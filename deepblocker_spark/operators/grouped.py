"""Sort-based grouped map: a scale- and overhead-friendly replacement for
``groupBy().applyInPandas()`` when groups are small and numerous.

``applyInPandas`` materializes every group as its own Arrow batch and Python
function call — at ~32k buckets per LSH job that is tens of seconds of pure
per-group overhead (measured: the per-bucket stage dominated wall-clock while
each bucket's matmul was microseconds). Here the same hash shuffle is
expressed as a bare repartition(key), and ONE mapInPandas kernel call
receives a whole partition holding MANY complete groups: per-group cost
collapses to a numpy slice. The kernel contract:

    kernel(pdf) -> pd.DataFrame

where ``pdf`` contains only whole groups (each key's rows contiguous, keys
sorted). The runner buffers the partition's Arrow batches and lexsorts the
keys itself — correctness does not depend on Arrow batch sizing.

The search kernels built on it (LSH buckets, IVF cells) share the helpers
below: ``_local_topk`` scores one group, ``local_topk_packed`` is their
fused map-side combiner, and ``topk_per_key`` is the merge. ``_topk_cols``
is the engine's one argpartition top-k selector, shared with the
chunk-broadcast scan (operators/topk.py) and the IVF probe assignment.
``_row_blobs`` / ``_blob_rows`` are the one codec of the binary row
transport (one little-endian blob per vector or PQ code) that the LSH,
IVF, PQ, SemDeDup and streaming pair kernels exchange.

At 100 TB this shape is strictly better than applyInPandas: identical
shuffle volume, identical skew behavior (same hash partitioning), but the
Python boundary is crossed once per ~10k rows instead of once per group.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame


def grouped_map_in_pandas(
    df: DataFrame,
    key_cols: list[str],
    kernel,
    out_schema,
    num_partitions: int | None = None,
) -> DataFrame:
    """Rows are grouped in Python after the hash exchange: the exchange is a
    BARE repartition — no JVM ``sortWithinPartitions`` — and the kernel
    runner buffers its whole partition, orders it with one numpy lexsort
    on the (int) key columns, and calls the kernel once. Profiling the
    240k-row LSH scaling job showed the Tungsten sort dominating the
    kernel stage's JVM CPU (~150 CPU-s at 8 cores for ~1.9M rows × ~290 B
    incl. embeddings, and it is exactly this CPU that inflates ~1.7x under
    8-core memory-bus contention), while the equivalent numpy lexsort of
    the same partition's int keys is milliseconds — the JVM was sorting
    wide rows so Python could slice groups it could have sorted itself.
    Memory bound: one partition decoded in one worker (~3x the
    partition's raw bytes); size partitions accordingly (AQE advisory 16m
    keeps this tens of MB).

    ``num_partitions=None`` leaves the exchange width to AQE coalescing.
    An explicit count is exempt from coalescing: the LSH broadcast-gather
    kernel passes min(spark.sql.shuffle.partitions, max(defaultParallelism,
    ceil(kernel_rows * dim * 8 / 64 MiB))) (``lsh._kernel_width``), one
    task per core, because its narrow rows would otherwise coalesce to a
    few fat tasks or, uncoalesced, pay one fixed Python-task handshake per
    shuffle partition (an identity ``mapInPandas`` at ``local[4]`` on a
    4-core host: 0.76-0.80 s over 32 partitions, 0.24-0.27 s over 4).
    """
    part = (
        df.repartition(*key_cols)
        if num_partitions is None
        else df.repartition(num_partitions, *key_cols)
    )
    keys = list(key_cols)

    def runner(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        chunks = [pdf for pdf in batches if len(pdf)]
        if not chunks:
            return
        pdf = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
        del chunks
        cols = [pdf[k].to_numpy() for k in reversed(keys)]
        order = np.lexsort(cols)
        if len(order) and not (np.diff(order) == 1).all():
            pdf = pdf.take(order).reset_index(drop=True)
        out = kernel(pdf)
        if out is not None and len(out):
            yield out

    return part.mapInPandas(runner, out_schema)


def group_slices(pdf: pd.DataFrame, key_cols: list[str]):
    """Yield (start, stop) row slices of each contiguous key group in a
    frame produced by grouped_map_in_pandas (keys sorted/contiguous)."""
    if not len(pdf):
        return
    keys = pdf[key_cols].to_numpy()
    change = np.any(keys[1:] != keys[:-1], axis=1)
    starts = np.concatenate([[0], np.nonzero(change)[0] + 1, [len(pdf)]])
    for a, b in zip(starts[:-1], starts[1:]):
        yield int(a), int(b)


def _row_blobs(a) -> list:
    """One little-endian bytes object per row of a C-contiguous 2-D array."""
    raw = a.tobytes()
    stride = a.shape[1] * a.itemsize
    return [raw[i * stride : (i + 1) * stride] for i in range(len(a))]


def _blob_rows(blobs, dtype, width: int) -> np.ndarray:
    """Inverse of ``_row_blobs``: the (len(blobs), width) ``dtype`` matrix
    of a sequence of row blobs, decoded in one ``np.frombuffer`` (a
    read-only view of the joined bytes); (0, width) for no rows."""
    return np.frombuffer(b"".join(blobs), dtype=dtype).reshape(len(blobs), width)


def _topk_cols(scores, k: int):
    """Column indices of each row's k largest scores, in unspecified order;
    every column, in order, when k >= the width."""
    kk = min(k, scores.shape[1])
    if kk < scores.shape[1]:
        return np.argpartition(-scores, kk - 1, axis=1)[:, :kk]
    return np.broadcast_to(np.arange(scores.shape[1]), scores.shape).copy()


def _local_topk(sims, qids, iids, k: int, mask_equal_ids: bool, rescore=None):
    """The k best index rows per query row of a (query × index) score
    matrix -> (l_id, r_id, sim) arrays; equal ids are dropped when
    ``mask_equal_ids``. Order within a query is unspecified — callers
    merge by (sim desc, r_id). ``rescore(rows, cols)``, when given,
    replaces each kept pair's matrix score (e.g. a row-wise f64 cosine
    that does not depend on the pair's position in the block)."""
    if mask_equal_ids:
        sims[qids[:, None] == iids[None, :]] = -np.inf
    part = _topk_cols(sims, k)
    rows = np.repeat(np.arange(len(qids)), part.shape[1])
    cols = part.ravel()
    s = sims[rows, cols]
    keep = s > -np.inf
    rows, cols = rows[keep], cols[keep]
    return qids[rows], iids[cols], s[keep] if rescore is None else rescore(rows, cols)


def local_topk_packed(parts: list, k: int, min_sim: float | None = None) -> pd.DataFrame:
    """Map-side combiner FUSED into a search kernel: the ``_local_topk``
    arrays of every group in the kernel's partition -> dedup + local
    per-l_id top-k -> ``pack_topk``. The grouped map hands the kernel its
    whole partition, so this IS the per-partition local top-k, and the
    pairs never take an extra Python<->JVM round-trip through a chained
    combiner pass. ``min_sim`` is a pre-merge row filter; it commutes with
    the merge's dedup + top-k, so filtering before packing is identical to
    filtering the unpacked exchange rows."""
    if not parts:
        return pd.DataFrame({"l_id": [], "_r": [], "_s": []})
    l, r, s = (np.concatenate(c) for c in zip(*parts))
    local = _dedup_topk(pd.DataFrame({"l_id": l, "r_id": r, "sim": s}),
                        k, "l_id", "r_id", "sim", with_rank=False)
    if min_sim is not None:
        local = local[local["sim"].to_numpy() >= min_sim]
    return pack_topk(local, "l_id", "r_id", "sim")


def _dedup_topk(
    pdf: pd.DataFrame, k: int, key: str, other: str, sim: str, with_rank: bool
) -> pd.DataFrame:
    """Shared reduction of the fused combiner (local_topk_packed) and the
    topk_per_key merge: dedup (key, other) keeping MAX sim, then top-k per
    key by (sim desc, other asc). Fully vectorized: one lexsort for dedup,
    one for ranking, no per-group Python loop."""
    l = pdf[key].to_numpy()
    r = pdf[other].to_numpy()
    s = pdf[sim].to_numpy()
    # factorize string ids to int codes: np.unique returns lexically
    # sorted uniques, so code order == string order and every sort /
    # comparison below runs on ints instead of Python string objects
    l_uniq = r_uniq = None
    if l.dtype == object:
        l_uniq, l = np.unique(l, return_inverse=True)
    if r.dtype == object:
        r_uniq, r = np.unique(r, return_inverse=True)
    # dedup (key, other) pairs (same pair found in >1 bucket), keeping
    # the MAX sim deterministically — sims of a duplicated pair are
    # normally identical (same vectors), but floating context can
    # differ, and keep-max is the defensible contract
    order = np.lexsort((-s, r, l))
    l, r, s = l[order], r[order], s[order]
    keep = np.ones(len(l), dtype=bool)
    keep[1:] = (l[1:] != l[:-1]) | (r[1:] != r[:-1])
    l, r, s = l[keep], r[keep], s[keep]
    # rank by (key asc, sim desc, other asc); cumcount via group starts
    order = np.lexsort((r, -s, l))
    l, r, s = l[order], r[order], s[order]
    new_grp = np.concatenate([[True], l[1:] != l[:-1]])
    starts = np.nonzero(new_grp)[0]
    sizes = np.diff(np.concatenate([starts, [len(l)]]))
    rank = np.arange(len(l)) - np.repeat(starts, sizes) + 1
    m = rank <= k
    l_out = l_uniq[l[m]] if l_uniq is not None else l[m]
    r_out = r_uniq[r[m]] if r_uniq is not None else r[m]
    out = {key: l_out, other: r_out, sim: s[m]}
    if with_rank:
        out["rank"] = rank[m].astype(np.int32)
    return pd.DataFrame(out)


def pack_topk(out: pd.DataFrame, key: str, other: str, sim: str) -> pd.DataFrame:
    """Pack ``_dedup_topk`` output (key-contiguous, rank-ordered) into ONE
    row per key with parallel (other, sim) arrays — the combiner's packed
    transport. The merge exchange then carries ~k-element array rows
    instead of k scalar rows per (key, producing partition): same payload,
    ~k-fold fewer rows, which is exactly the per-row shuffle/Arrow
    overhead the 240k profile showed inflating under bus contention
    (stage_profile: merge CPU 36 -> 67 CPU-s from 2 to 8 cores on 14.4M
    scalar rows). Unpacking restores the identical row set, so results
    are bit-identical."""
    l = out[key].to_numpy()
    if not len(l):
        return pd.DataFrame({key: [], "_r": [], "_s": []})
    new_grp = np.concatenate([[True], l[1:] != l[:-1]])
    starts = np.nonzero(new_grp)[0]
    ends = np.concatenate([starts[1:], [len(l)]])
    r = out[other].to_numpy()
    s = out[sim].to_numpy()
    return pd.DataFrame(
        {
            key: l[starts],
            "_r": [r[a:b] for a, b in zip(starts, ends)],
            "_s": [s[a:b] for a, b in zip(starts, ends)],
        }
    )


def _unpack_topk(pdf: pd.DataFrame, key: str, other: str, sim: str) -> pd.DataFrame:
    """Inverse of ``pack_topk`` for one Arrow batch."""
    rs = pdf["_r"].to_numpy()
    sizes = np.fromiter((len(x) for x in rs), dtype=np.int64, count=len(rs))
    if not sizes.sum():
        return pd.DataFrame({key: [], other: [], sim: []})
    return pd.DataFrame(
        {
            key: np.repeat(pdf[key].to_numpy(), sizes),
            other: np.concatenate(rs),
            sim: np.concatenate(pdf["_s"].to_numpy()),
        }
    )


# Rows the merge runner buffers before compacting them to their per-key
# top-k: worker memory stays bounded whatever the partition size.
_COMPACT_ROWS = 2_000_000


def topk_per_key(
    pairs: DataFrame,
    k: int,
    key: str = "l_id",
    other: str = "r_id",
    sim: str = "sim",
    num_partitions: int | None = None,
    packed_input: bool = False,
) -> DataFrame:
    """Dedup (key, other) pairs and keep the top-k per key by (sim desc,
    other asc), attaching rank — the fused, single-shuffle replacement for
    ``dropDuplicates([key, other])`` + window row_number (two shuffles).

    ``packed_input``: ``pairs`` carries (key, _r array, _s array) rows made
    by ``pack_topk`` — the map-side combiner already ran inside the
    producing kernel (``local_topk_packed``), so the exchange carries at
    most one local top-k per (key, producing partition). A pair cut by a
    local top-k is dominated by >= k distinct pairs of the same partition
    that all reach the merge, so the combiner never changes the result.

    The merge itself needs NO sort exchange: after repartition(key) every
    key's rows are complete within one partition, and ``_dedup_topk``
    lexsorts internally — so the merge is a bare hash exchange + one
    partition-wide reduce, with no JVM Tungsten sortWithinPartitions. The
    reduce is associative (top-k of unioned top-ks = global top-k once all
    of a key's rows are present), so the runner compacts its buffer every
    ``_COMPACT_ROWS`` rows."""
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    if packed_input:
        narrow = pairs
        other_type = pairs.schema["_r"].dataType.elementType
        out_schema = StructType(
            [
                pairs.schema[key],
                StructField(other, other_type, True),
                StructField(sim, DoubleType(), False),
                StructField("rank", IntegerType(), False),
            ]
        )
    else:
        narrow = pairs.select(key, other, sim)
        out_schema = StructType(
            list(narrow.schema.fields)
            + [StructField("rank", IntegerType(), False)]
        )

    def runner(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        buf: list[pd.DataFrame] = []
        nrows = 0
        for pdf in batches:
            if not len(pdf):
                continue
            if packed_input:
                pdf = _unpack_topk(pdf, key, other, sim)
            buf.append(pdf)
            nrows += len(pdf)
            if nrows >= _COMPACT_ROWS:
                buf = [
                    _dedup_topk(
                        pd.concat(buf, ignore_index=True), k, key, other, sim,
                        with_rank=False,
                    )
                ]
                nrows = len(buf[0])
        if buf:
            out = _dedup_topk(
                pd.concat(buf, ignore_index=True), k, key, other, sim,
                with_rank=True,
            )
            if len(out):
                yield out

    part = (
        narrow.repartition(key)
        if num_partitions is None
        else narrow.repartition(num_partitions, key)
    )
    return part.mapInPandas(runner, out_schema)
