"""Exact top-K cosine similarity join (SURVEY.md O23-O25).

The reference materializes the full N_l x N_r cosine matrix and argsorts
every row (/root/reference/vector_pairing_models.py:36-49) — an O(N^2)
memory wall. The Spark re-expression:

  * the right table's (id, embedding) is collected in bounded chunks and
    broadcast; a mapInPandas over the left table computes, per Arrow batch,
    the batch x chunk similarity block with one BLAS matmul, then takes the
    per-row top K via ``np.argpartition`` (no full sort — an algorithmic
    improvement over the reference's per-row argsort, same result set);
  * with multiple chunks, per-chunk partial top-Ks are unioned and reduced
    to the global top K with ``row_number()`` over a window — the classic
    partial+final top-K. With a single chunk the window is skipped
    entirely: the per-batch result already is the global top K.

The candidate set is emitted directly as a pair table (l_id, r_id, sim,
rank) — the reference's separate melt step (blocking_utils.py:3-13)
dissolves into the operator. Ties break deterministically by
(sim desc, r_id asc); the reference's numpy introsort tie order is
unspecified, a documented divergence (SURVEY.md O24).

At true web scale the exact join stays the per-bucket oracle; the scale path
is LSH candidate generation (operators/lsh.py) which reuses this module's
kernel per bucket.
"""

from __future__ import annotations

from collections.abc import Iterator

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

from deepblocker_spark.operators.embed import EMBEDDING
from deepblocker_spark.operators.pairing import VectorPairing

from deepblocker_spark.operators.bc_registry import (
    tracked_broadcast as _tracked,
)


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


def _pdf_to_chunk(pdf: pd.DataFrame, r_id: str, emb_col: str):
    ids = np.asarray(pdf[r_id].to_list())
    if len(pdf):
        mat = np.stack(pdf[emb_col].to_numpy()).astype(np.float64)
    else:
        mat = np.zeros((0, 0), dtype=np.float64)
    return ids, normalize_rows(np.nan_to_num(mat))


def _iter_right_chunks(
    right: DataFrame,
    r_id: str,
    emb_col: str,
    max_rows: int,
    right_rows: int | None = None,
):
    """Yield (ids, normalized float64 matrix) chunks of the right table,
    each ~max_rows rows, WITHOUT materializing the whole table on the
    driver: membership is deterministic (pmod(xxhash64(r_id), n_chunks))
    and each chunk is a separate filtered toPandas, so driver peak memory
    is O(chunk), not O(N_right) (VERDICT r1 #7). The projection is
    persisted across the count + per-chunk reads so upstream (embedding)
    is computed once; toPandas goes through Arrow batches — order-of-
    magnitude faster than row-wise py4j collect().

    ``right_rows`` (a row-count hint, e.g. from a checkpoint manifest)
    skips the count job; when it says the table fits one chunk the
    persist round-trip is skipped too — one toPandas, nothing else.

    Without a hint, a LIMIT(max_rows + 1) Arrow probe replaces the old
    persist + count + toPandas sizing round-trip (round 6; the same
    limit-probe pattern as pq.pq_topk_join): when the table fits one
    chunk — every oracle query and any pairing below max_broadcast_rows —
    the whole collection is ONE bounded job, and the probe can never pull
    more than one chunk's rows to the driver. The probed rows are ordered
    by id so chunk row order (and therefore f32 argpartition behavior on
    exact score ties) is content-determined rather than
    partition-order-determined. Only a genuinely multi-chunk table still
    pays the persist + count + per-chunk reads (the probe's bounded pull
    is discarded — one chunk's worth of wasted transfer, vs the full
    lineage recomputation the count used to cost at every size)."""
    proj = right.select(r_id, emb_col)
    if max_rows <= 0:
        raise ValueError("max_broadcast_rows must be positive")
    if right_rows is not None and right_rows <= max_rows:
        yield _pdf_to_chunk(proj.toPandas(), r_id, emb_col)
        return
    if right_rows is None:
        probe = proj.limit(max_rows + 1).toPandas()
        if len(probe) <= max_rows:
            if len(probe):
                probe = probe.sort_values(r_id, kind="mergesort",
                                          ignore_index=True)
            yield _pdf_to_chunk(probe, r_id, emb_col)
            return
        del probe
    proj.persist()
    try:
        n = proj.count() if right_rows is None else right_rows
        if n <= max_rows:
            yield _pdf_to_chunk(proj.toPandas(), r_id, emb_col)
            return
        n_chunks = -(-n // max_rows)
        keyed = proj.withColumn(
            "_chunk", F.pmod(F.xxhash64(F.col(r_id)), F.lit(n_chunks)).cast("int")
        )
        for c in range(n_chunks):
            pdf = keyed.filter(F.col("_chunk") == c).drop("_chunk").toPandas()
            yield _pdf_to_chunk(pdf, r_id, emb_col)
    finally:
        proj.unpersist()


def _topk_select(
    lmat32: np.ndarray,
    rmat32: np.ndarray,
    k: int,
    lids: np.ndarray | None,
    rids: np.ndarray | None,
    exclude_self: bool,
) -> tuple[np.ndarray, np.ndarray]:
    """Cache-blocked per-row top-k: the right side is processed in column
    chunks sized so each sims block stays cache-resident (~4MB). This keeps
    DRAM traffic ~constant per task instead of O(b x m) — on bandwidth-
    starved hosts the full-width block made the stage scale with memory
    bandwidth, not cores. Per-chunk top-k candidates are merged and reduced
    to the global top-k. Returns (row_idx, col_idx) into (lmat32, rmat32)."""
    b, m = len(lmat32), len(rmat32)
    if m == 0 or b == 0:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    ccols = max(1024, (4 * 1024 * 1024) // max(4 * b, 1))
    cand_cols: list[np.ndarray] = []
    cand_sims: list[np.ndarray] = []
    for start in range(0, m, ccols):
        rchunk = rmat32[start : start + ccols]
        mc = len(rchunk)
        sims32 = np.dot(lmat32, rchunk.T, out=_sims_buffer(b, mc))
        if exclude_self:
            sims32[lids[:, None] == rids[None, start : start + mc]] = -np.inf
        kk = min(k, mc)
        if kk < mc:
            part = np.argpartition(-sims32, kk - 1, axis=1)[:, :kk]
        else:
            part = np.broadcast_to(np.arange(mc), (b, mc)).copy()
        cand_cols.append(part + start)
        cand_sims.append(np.take_along_axis(sims32, part, axis=1).copy())
    cols_all = np.concatenate(cand_cols, axis=1)  # b x (k * nchunks)
    sims_all = np.concatenate(cand_sims, axis=1)
    nc = cols_all.shape[1]
    kk = min(k, nc)
    if kk < nc:
        part = np.argpartition(-sims_all, kk - 1, axis=1)[:, :kk]
        final_cols = np.take_along_axis(cols_all, part, axis=1)
        final_sims = np.take_along_axis(sims_all, part, axis=1)
    else:
        final_cols, final_sims = cols_all, sims_all
    rows = np.repeat(np.arange(b), final_cols.shape[1])
    cols = final_cols.ravel()
    keep = final_sims.ravel() > -np.inf
    return rows[keep], cols[keep]


def _rescore_and_order(
    lmat64: np.ndarray,
    rmat64: np.ndarray,
    rows: np.ndarray,
    cols: np.ndarray,
    r_ids: np.ndarray,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Exact float64 similarity for the selected pairs + deterministic
    (row, sim desc, r_id asc) ordering."""
    s = np.einsum("ij,ij->i", lmat64[rows], rmat64[cols])
    sel_rids = r_ids[cols]
    order = np.lexsort((sel_rids, -s, rows))
    return rows[order], cols[order], s[order]


PAIR_FIELDS = ["l_id", "r_id", "sim", "rank"]


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
    hint (e.g. from a checkpoint manifest) that skips the sizing count job.
    """
    spark = left.sparkSession
    id_field = right.select(r_id).schema.fields[0].dataType

    pair_schema = StructType(
        [
            StructField("l_id", left.select(l_id).schema.fields[0].dataType, True),
            StructField("r_id", id_field, True),
            StructField("sim", DoubleType(), False),
            StructField("rank", IntegerType(), False),
        ]
    )

    def make_runner(ids_c: np.ndarray, mat_c: np.ndarray):
        bc = _tracked(spark.sparkContext, (ids_c, mat_c))

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            rids, rmat = bc.value
            rmat32 = _f32_view(rmat) if rmat.size else rmat
            for pdf in batches:
                if not len(pdf) or rmat.size == 0:
                    continue
                lids = pdf[l_id].to_numpy()
                lmat = normalize_rows(
                    np.nan_to_num(np.stack(pdf[emb_col].to_numpy()).astype(np.float64))
                )
                lmat32 = lmat.astype(np.float32)
                rows, cols = _topk_select(lmat32, rmat32, k, lids, rids, exclude_self)
                if not len(rows):
                    continue
                rows, cols, s = _rescore_and_order(lmat, rmat, rows, cols, rids)
                out = pd.DataFrame(
                    {
                        "l_id": lids[rows],
                        "r_id": rids[cols],
                        "sim": s,
                    }
                )
                # rank within this chunk (final rank re-derived post-merge
                # when chunked; exact already when single-chunk). Group by the
                # batch row index, not l_id, in case of duplicate left keys.
                out["rank"] = (
                    out.groupby(rows, sort=False).cumcount().astype("int32") + 1
                )
                yield out

        return run

    parts = []
    for ids_c, mat_c in _iter_right_chunks(
        right, r_id, emb_col, max_broadcast_rows, right_rows
    ):
        parts.append(
            left.select(l_id, emb_col).mapInPandas(make_runner(ids_c, mat_c), pair_schema)
        )
        del ids_c, mat_c  # broadcast holds the data; keep driver peak O(chunk)
    result = parts[0]
    for p in parts[1:]:
        result = result.unionByName(p)

    if len(parts) > 1:
        w = Window.partitionBy("l_id").orderBy(F.desc("sim"), F.asc("r_id"))
        result = (
            result.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
        )
    return result


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

    Same broadcast + per-batch BLAS kernel as the top-K join, but emitting
    the thresholded pairs instead of per-row top-K. ``upper_only`` keeps
    l_id < r_id (self-join near-duplicate semantics). Note: a crossJoin with
    Column-expression cosine (scoring.cosine_col) computes the same thing,
    but Spark's higher-order array functions evaluate interpreted
    per-element — the matmul path is ~100x faster at equal output.
    """
    spark = left.sparkSession

    pair_schema = StructType(
        [
            StructField("l_id", left.select(l_id).schema.fields[0].dataType, True),
            StructField("r_id", right.select(r_id).schema.fields[0].dataType, True),
            StructField("sim", DoubleType(), False),
        ]
    )

    parts = []
    for ids_c, mat_c in _iter_right_chunks(right, r_id, emb_col, max_broadcast_rows):
        bc = _tracked(spark.sparkContext, (ids_c, mat_c))
        del ids_c, mat_c

        def run(batches: Iterator[pd.DataFrame], _bc=bc) -> Iterator[pd.DataFrame]:
            rids, rmat = _bc.value
            rmat32 = _f32_view(rmat) if rmat.size else rmat
            # float32 threshold guard band scaled to the accumulation length:
            # worst-case error of a dim-term f32 dot product is ~dim*eps/2,
            # so one f32 ulp is NOT enough (ADVICE r1). Anything inside the
            # band is kept for the exact float64 re-check below, so a wide
            # band costs only extra rescoring, never wrong results.
            dim = rmat.shape[1] if rmat.ndim == 2 else 0
            guard = threshold - max(1e-4, 2.0 * dim * np.finfo(np.float32).eps)
            for pdf in batches:
                if not len(pdf) or rmat.size == 0:
                    continue
                lids = pdf[l_id].to_numpy()
                lmat = normalize_rows(
                    np.nan_to_num(np.stack(pdf[emb_col].to_numpy()).astype(np.float64))
                )
                lmat32 = lmat.astype(np.float32)
                b, m = len(lmat32), len(rmat32)
                ccols = max(1024, (4 * 1024 * 1024) // max(4 * b, 1))
                out_rows, out_cols = [], []
                for start in range(0, m, ccols):
                    rchunk = rmat32[start : start + ccols]
                    sims32 = np.dot(lmat32, rchunk.T, out=_sims_buffer(b, len(rchunk)))
                    mask = sims32 >= guard
                    if upper_only:
                        mask &= lids[:, None] < rids[None, start : start + len(rchunk)]
                    r_, c_ = np.nonzero(mask)
                    if len(r_):
                        out_rows.append(r_)
                        out_cols.append(c_ + start)
                if not out_rows:
                    continue
                rows = np.concatenate(out_rows)
                cols = np.concatenate(out_cols)
                s = np.einsum("ij,ij->i", lmat[rows], rmat[cols])
                keep = s >= threshold
                rows, cols, s = rows[keep], cols[keep], s[keep]
                if not len(rows):
                    continue
                yield pd.DataFrame(
                    {"l_id": lids[rows], "r_id": rids[cols], "sim": s}
                )

        parts.append(left.select(l_id, emb_col).mapInPandas(run, pair_schema))
    result = parts[0]
    for p in parts[1:]:
        result = result.unionByName(p)
    return result


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
