"""LSH-bucketed cosine candidate generation — the scale path for the top-K
similarity join (SURVEY.md §7.2 step 9; BASELINE.json north_star).

No reference counterpart: the reference's ExactTopK materializes the full
N_l x N_r similarity matrix (its vector_pairing_models.py:44), an O(N^2)
wall. Here ONE path, ``_lsh_search``, runs both public entries:

  random-hyperplane signatures (carrying the vector — no join back to the
  source)  ->  band buckets  ->  shuffle on (band, bucket, salt_l, salt_r)
  ->  per-bucket exact cosine (sort-based grouped map, operators/grouped.py)
  ->  fused dedup + global per-left top-K (one more shuffle, vectorized
  kernel).

Two modes of that path:
  * self (``lsh_candidates``, ``left=None``): a bucket's rows are both the
    query and the index rows; equal ids are masked.
  * dyadic (``lsh_candidates_dyadic``): left rows query the right rows of
    their bucket. Both sides hash with the SAME seeded hyperplanes — bucket
    keys are only comparable under identical planes.

Hot buckets (boilerplate files, licenses — FIXTURES.md F1 skew note) are
SALT-SPLIT deterministically, never truncated, bounding every task's
cross-product at max_bucket_rows^2; ``bucket_stats`` exposes the size
distribution for monitoring.
  * Self mode salts on the DIAGONAL: a row's hash split xxhash64(id) %
    n_splits is its salt on both sides, with no replication. Pairs spanning
    two splits of one hot bucket are only lost if they also collide in no
    other band — the standard multi-band recall argument.
  * Dyadic mode salts on the GRID: a bucket with SL left and SR right
    splits becomes SL x SR tasks; each row lands in its own hash split and
    is replicated across the other side's splits, so every (l, r) pair of
    the bucket meets exactly once — zero recall loss.

Design-for-scale notes:
  * The hyperplane matrix is derived from a seed — every executor
    regenerates it identically; nothing is shipped.
  * Signature computation is one matmul + bitpacking per Arrow batch.
  * Exact mode (operators/topk.py) remains the recall oracle; recall@K of
    LSH vs exact is measured in tests and bench.
"""

from __future__ import annotations

from collections.abc import Iterator
from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from deepblocker_spark.operators.embed import EMBEDDING
from deepblocker_spark.operators.grouped import (
    _blob_rows,
    _local_topk,
    _row_blobs,
    group_slices,
    grouped_map_in_pandas,
    local_topk_packed,
    topk_per_key,
)
from deepblocker_spark.operators.pairing import VectorPairing, shared_id_type
from deepblocker_spark.operators.topk import normalize_rows

from deepblocker_spark.operators.bc_registry import (
    tracked_broadcast as _tracked,
    tracked_persist,
)


def hyperplanes(dim: int, n_bands: int, band_bits: int, seed: int) -> np.ndarray:
    rng = np.random.Generator(np.random.PCG64(seed))
    return rng.standard_normal((n_bands * band_bits, dim))


def signature_buckets(
    df: DataFrame,
    id_col: str = "id",
    emb_col: str = EMBEDDING,
    dim: int = 300,
    n_bands: int = 8,
    band_bits: int = 12,
    seed: int = 1234,
    include_emb: bool = False,
    extra_cols: list[str] | None = None,
    emb_dtype: str = "f32",
) -> DataFrame:
    """-> DataFrame(id, band int, bucket long[, _emb][, extras]): one row
    per (row, band). bucket = the band's sign bits packed into an int64.

    ``include_emb=True`` carries the embedding through the signature pass so
    the candidate kernels need NO join back to the source table — the
    vector has to travel to every (band, bucket) group anyway, and emitting
    it here replaces a full shuffle join (sigs x source on id) with zero
    extra stages. ``extra_cols`` passes additional source columns through
    unchanged (replicated per band) — used by the streaming path to keep
    the event-time column for watermarking.

    The carried ``_emb`` is one little-endian float blob per row
    (``grouped._row_blobs``; decode with ``grouped._blob_rows``), not an
    ``array<float>``. Profiling the 240k scaling job showed the JVM's
    row<->Arrow conversion of ~1.9M LIST columns dominating the exchange
    stages' CPU (and that CPU inflating ~1.7x under 8-core memory-bus
    contention); a BinaryType column moves as one memcpy per row, the
    per-band duplication shares the same immutable bytes objects, and the
    kernel decodes the whole partition with a single ``np.frombuffer`` —
    bit-identical f32 payload for the engine's ``array<float>`` embeddings
    (an ``array<double>`` column is rounded to f32), same shuffle bytes.

    ``emb_dtype='f16'`` quantizes the blob to little-endian float16 — HALF
    the exchange bytes for the kernel's wide rows, aimed squarely at the
    measured bottleneck: the bucket-kernel and merge stages are
    memory-bandwidth-bound (BASELINE.md protocol v5; the STREAM-triad
    control caps their scaling on a shared bus), and at 100 TB the kernel
    exchange is the single largest shuffle of the blocking plan. Bucket keys
    are UNAFFECTED (signs are computed from the full-precision vector before
    packing), so candidate *generation* is identical; only the in-bucket
    cosine scores see the ~1e-3 relative quantization error, which can
    reorder near-ties in the top-K tail (recall property-tested in
    tests/test_lsh_f16.py). Default stays f32: hash-locked oracle outputs
    are bit-identical."""
    if emb_dtype not in ("f32", "f16"):
        raise ValueError(f"unknown emb_dtype: {emb_dtype!r} (use 'f32' or 'f16')")
    extra_cols = extra_cols or []
    fields = [
        StructField(id_col, df.select(id_col).schema.fields[0].dataType, True),
        StructField("band", IntegerType(), False),
        StructField("bucket", LongType(), False),
    ]
    if include_emb:
        fields.append(StructField("_emb", BinaryType(), True))
    for c in extra_cols:
        fields.append(StructField(c, df.schema[c].dataType, True))
    out_schema = StructType(fields)
    params = (dim, n_bands, band_bits, seed)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        d, nb, bb, sd = params
        planes = hyperplanes(d, nb, bb, sd)  # regenerated per executor
        pow2 = (1 << np.arange(bb)).astype(np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            x_arr = np.stack(pdf[emb_col].to_numpy())
            x = np.nan_to_num(x_arr.astype(np.float64))
            bits = (x @ planes.T) > 0  # (n, nb*bb)
            n = len(pdf)
            ids = pdf[id_col].to_numpy()
            out_ids, out_band, out_bucket = [], [], []
            for band in range(nb):
                chunk = bits[:, band * bb : (band + 1) * bb]
                buckets = chunk @ pow2
                out_ids.append(ids)
                out_band.append(np.full(n, band, dtype=np.int32))
                out_bucket.append(buckets)
            out = pd.DataFrame(
                {
                    id_col: np.concatenate(out_ids),
                    "band": np.concatenate(out_band),
                    "bucket": np.concatenate(out_bucket),
                }
            )
            if include_emb:
                # f32: lossless (the engine's EMBEDDING column is
                # array<float>); f16: quantized transport, half bytes
                xq = x_arr.astype(
                    np.float16 if emb_dtype == "f16" else np.float32,
                    copy=False,
                )
                out["_emb"] = _row_blobs(xq) * nb  # list-repeat shares the bytes
            for c in extra_cols:
                out[c] = list(pdf[c]) * nb
            yield out

    return df.select(id_col, emb_col, *extra_cols).mapInPandas(run, out_schema)


def bucket_stats(buckets: DataFrame) -> DataFrame:
    """Bucket-size distribution for skew monitoring: (band, bucket, size)."""
    return buckets.groupBy("band", "bucket").agg(F.count("*").alias("size"))


# Worker-lifetime id->row lookup for the broadcast-gather kernel: the hash
# Index is built once per (worker, broadcast) instead of once per Arrow
# batch. The key is id(ids), which is sound because the cached pd.Index
# holds ``ids`` itself (pandas 2.2 ``Index(ndarray)`` does not copy): the
# array stays alive while its entry lives, so its address cannot be reused
# by another array. At most two gathers are live at once (the two sides of
# a dyadic search), so the cache clears when a third arrives.
_GATHER_INDEX_CACHE: dict[int, pd.Index] = {}


def _gather_rows(bc, ids_all: np.ndarray) -> np.ndarray:
    """Rows of the broadcast (ids, matrix) pair for ``ids_all``, via a
    cached pandas Index (any hashable id dtype)."""
    ids, mat = bc.value
    # Broadcast.value is cached per worker process, so the unpickled ids
    # array is the same object across batches
    key = id(ids)
    idx = _GATHER_INDEX_CACHE.get(key)
    if idx is None:
        if len(_GATHER_INDEX_CACHE) >= 2:
            _GATHER_INDEX_CACHE.clear()
        idx = pd.Index(ids)
        _GATHER_INDEX_CACHE[key] = idx
    pos = idx.get_indexer(ids_all)
    # every exchanged id came from the same signature frame the broadcast
    # was collected from; a miss means the two drifted apart
    if len(pos) and pos.min() < 0:
        raise RuntimeError("broadcast gather: id missing from embedding matrix")
    return mat[pos]


def _persisted_sigs(df, id_col, emb_col, dim, n_bands, band_bits, seed,
                    emb_dtype: str, extra_cols: list[str] | None) -> DataFrame:
    """Signatures computed ONCE per side (VERDICT r2 #2), carrying the
    binary vector: the oversized-bucket collect and the candidate kernel
    both read the persisted frame."""
    from pyspark import StorageLevel

    return tracked_persist(signature_buckets(
        df, id_col, emb_col, dim, n_bands, band_bits, seed, include_emb=True,
        extra_cols=extra_cols, emb_dtype=emb_dtype,
    ), StorageLevel.MEMORY_AND_DISK)


def _oversized_buckets(sigs: DataFrame, max_bucket_rows: int):
    """Collect the (tiny by construction) oversized-bucket list from a narrow
    projection of the persisted signature frame — this is the action that
    materializes the cache, so the candidate pass reads signatures for free.
    Returns [(band, bucket, _splits), ...]."""
    return (
        sigs.select("band", "bucket")
        .groupBy("band", "bucket")
        .agg(F.count("*").alias("size"))
        .filter(F.col("size") > max_bucket_rows)
        .withColumn(
            "_splits", F.ceil(F.col("size") / F.lit(max_bucket_rows)).cast("int")
        )
        .select("band", "bucket", "_splits")
        .collect()
    )


def _salted(sigs: DataFrame, id_col: str, splits: DataFrame | None,
            side: int | None) -> DataFrame:
    """One side's kernel rows (_id, band, bucket, salt_l, salt_r, _emb
    [, _side]). ``splits`` (band, bucket, _sl, _sr) lists the oversized
    buckets; None — the healthy case — gives literal-zero salts and a plan
    with neither a join nor an explode. A row's own salt is its hash split
    xxhash64(id) % (its side's splits). Self mode (``side=None``) uses it
    as both salts (the diagonal); a dyadic row is replicated across the
    other side's splits (the grid)."""
    if splits is None:
        mine = other = F.lit(0)
    else:
        own_col, other_col = ("_sr", "_sl") if side == 1 else ("_sl", "_sr")
        sigs = sigs.join(F.broadcast(splits), ["band", "bucket"], "left")
        mine = F.pmod(
            F.xxhash64(F.col(id_col)), F.coalesce(F.col(own_col), F.lit(1))
        ).cast("int")
        other = mine if side is None else F.explode(
            F.sequence(F.lit(0), F.coalesce(F.col(other_col), F.lit(1)) - 1)
        )
    salt_l, salt_r = (other, mine) if side == 1 else (mine, other)
    return sigs.select(
        F.col(id_col).alias("_id"), "band", "bucket",
        salt_l.alias("salt_l"), salt_r.alias("salt_r"), "_emb",
        *([] if side is None else [F.lit(side).alias("_side")]),
    )


def _side_matrix(sigs: DataFrame, id_col: str, dim: int, dt) -> tuple:
    """(ids, quantized matrix) of one side, collected from the band-0 slice
    of its persisted signature frame — the embed stage is NOT recomputed."""
    b0 = sigs.filter(F.col("band") == 0).select(id_col, "_emb").toPandas()
    return b0[id_col].to_numpy(), _blob_rows(b0["_emb"].to_numpy(), dt, dim)


_KEYS = ["band", "bucket", "salt_l", "salt_r"]

# Bound on the f64 vector block (kernel rows x dim x 8 bytes) one
# broadcast-gather kernel task decodes.
_KERNEL_BYTES = 64 << 20


def _kernel_width(spark, kernel_rows: int, dim: int) -> int:
    """Partitions of the broadcast-gather kernel exchange: one kernel wave
    per core, widened only to keep each task's f64 block under
    _KERNEL_BYTES, never above the session's shuffle partitions."""
    by_bytes = -(-kernel_rows * dim * 8 // _KERNEL_BYTES)
    return min(int(spark.conf.get("spark.sql.shuffle.partitions")),
               max(spark.sparkContext.defaultParallelism, by_bytes))


def _lsh_search(
    left: DataFrame | None,
    right: DataFrame,
    l_id: str,
    r_id: str,
    emb_col: str,
    *,
    dim: int,
    k: int,
    n_bands: int,
    band_bits: int,
    seed: int,
    max_bucket_rows: int,
    min_sim: float | None,
    emb_dtype: str,
    gather: str,
    gather_max_bytes: int,
    partition_by: str | None = None,
    rows_hint: int | None = None,
) -> DataFrame:
    """The one LSH driver behind ``lsh_candidates`` (``left=None``: self
    mode over ``right``) and ``lsh_candidates_dyadic``. Every argument
    check runs before the first Spark job; both sides must share an id
    type (the bucket-union frame carries ONE ``_id`` column).
    ``rows_hint`` is ``right``'s row count when the caller knows it; only
    sides without one are counted by the gather gate."""
    if gather not in ("auto", "broadcast", "exchange"):
        raise ValueError(
            f"unknown gather: {gather!r} (use 'auto', 'broadcast' or 'exchange')"
        )
    id_type = shared_id_type(left, right, l_id, r_id, "LSH")
    self_mode = left is None
    sides = [(right, r_id)] if self_mode else [(left, l_id), (right, r_id)]
    keys = [key for _, key in sides]
    spark = right.sparkSession
    # One emb-carrying signature frame per side (signature_buckets checks
    # emb_dtype as it is built, before any job), read by its bucket-size
    # collect and by the kernel: NO join back to the source table.
    sigs = [
        _persisted_sigs(df, key, emb_col, dim, n_bands, band_bits, seed,
                        emb_dtype, [partition_by] if partition_by else None)
        for df, key in sides
    ]
    if partition_by is not None:
        # scope every bucket to its partition value; downstream is unchanged
        sigs[0] = sigs[0].withColumn(
            "bucket", F.xxhash64(F.col(partition_by), F.col("bucket"))
        ).drop(partition_by)
    # The oversized lists are tiny by construction; when non-empty they are
    # re-injected as a broadcast local relation — never a shuffle join
    # (VERDICT r1 plan-audit note).
    grid: dict[tuple[int, int], list[int]] = {}
    for side, side_sigs in enumerate(sigs):
        for row in _oversized_buckets(side_sigs, max_bucket_rows):
            grid.setdefault((row["band"], row["bucket"]), [1, 1])[side] = row["_splits"]
    splits = spark.createDataFrame(
        [(b, kb, sl, sr) for (b, kb), (sl, sr) in grid.items()],
        "band int, bucket bigint, _sl int, _sr int",
    ) if grid else None
    rows = reduce(DataFrame.unionByName, [
        _salted(side_sigs, key, splits, None if self_mode else side)
        for side, (side_sigs, key) in enumerate(zip(sigs, keys))
    ])

    # Broadcast-gather gate (see lsh_candidates): a side's n_rows is its row
    # hint, else one cached count of its persisted signature frame.
    dt = np.float16 if emb_dtype == "f16" else np.float32
    hints = [rows_hint] if self_mode else [None, rows_hint]
    use_broadcast = gather == "broadcast" or (gather == "auto" and all(
        (h if h is not None else s.count() // max(n_bands, 1))
        * dim * np.dtype(dt).itemsize <= gather_max_bytes
        for h, s in zip(hints, sigs)
    ))
    bcs = num_partitions = None
    if use_broadcast:
        mats = [_side_matrix(s, key, dim, dt) for s, key in zip(sigs, keys)]
        bcs = [_tracked(spark.sparkContext, m) for m in mats]
        rows = rows.drop("_emb")
        # One kernel task per core (_kernel_width): every Python task pays
        # a fixed handshake, and at the session's 32 shuffle partitions
        # the narrow rows left ~25 ms of work per task. An identity
        # mapInPandas at local[4] (4-core host, worker_daemon) takes
        # 0.76-0.80 s over 32 partitions against 0.24-0.27 s over 4. The
        # explicit count keeps the bare repartition out of AQE coalescing.
        num_partitions = _kernel_width(
            spark, n_bands * sum(len(ids) for ids, _ in mats), dim
        )

    def bucket_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        """Search over a frame of WHOLE (band, bucket, salt_l, salt_r)
        groups: vectors decode once per frame, one _local_topk per group."""
        ids_all = pdf["_id"].to_numpy()
        is_left = None if self_mode else pdf["_side"].to_numpy() == 0
        if bcs is None:
            x_all = _blob_rows(pdf["_emb"].to_numpy(), dt, dim)
        else:
            # per-side gather; the upcast on assign == astype below
            x_all = np.empty((len(pdf), dim))
            masks = [slice(None)] if self_mode else [is_left, ~is_left]
            for bc, m in zip(bcs, masks):
                x_all[m] = _gather_rows(bc, ids_all[m])
        x_all = normalize_rows(np.nan_to_num(x_all.astype(np.float64, copy=False)))
        parts = []
        for a, b in group_slices(pdf, _KEYS):
            if self_mode:
                if b - a < 2:
                    continue
                # one operand on both sides: numpy runs x @ x.T as a
                # symmetric product
                q = i = slice(a, b)
            else:
                q = np.nonzero(is_left[a:b])[0] + a
                i = np.nonzero(~is_left[a:b])[0] + a
                if not len(q) or not len(i):
                    continue
            parts.append(_local_topk(x_all[q] @ x_all[i].T, ids_all[q],
                                     ids_all[i], k, self_mode))
        return local_topk_packed(parts, k, min_sim)

    # PACKED kernel output (grouped.pack_topk): one row per l_id with
    # parallel (r_id, sim) arrays — the merge exchange carries ~k-fold
    # fewer rows for the same payload
    pair_schema = StructType(
        [
            StructField("l_id", id_type, True),
            StructField("_r", ArrayType(id_type), True),
            StructField("_s", ArrayType(DoubleType()), True),
        ]
    )
    pairs = grouped_map_in_pandas(rows, _KEYS, bucket_kernel, pair_schema,
                                  num_partitions=num_partitions)
    # fused dedup + per-left top-K: one shuffle instead of the
    # dropDuplicates exchange + window exchange; the combiner and min_sim
    # already ran inside the kernel
    return topk_per_key(pairs, k, packed_input=True)


def lsh_candidates(
    df: DataFrame,
    id_col: str = "id",
    emb_col: str = EMBEDDING,
    dim: int = 300,
    k: int = 50,
    n_bands: int = 8,
    band_bits: int = 12,
    seed: int = 1234,
    max_bucket_rows: int = 5_000,
    min_sim: float | None = None,
    emb_dtype: str = "f32",
    gather: str = "auto",
    gather_max_bytes: int = 64 << 20,
    partition_by: str | None = None,
    rows_hint: int | None = None,
) -> DataFrame:
    """Self-join candidate generation: -> (l_id, r_id, sim, rank), rank<=k
    per l_id, l_id != r_id, deterministic (sim desc, r_id asc) tie-break.

    ``partition_by``: FILTERED ANN — pairs only form between rows sharing
    this column's value (e.g. same language, same tenant, same shard).
    Implemented by folding the partition value into the bucket key
    (``bucket' = xxhash64(part, bucket)``) right after the signature
    pass, so salting, broadcast-gather, the kernel, and the merge all
    scope to the partition with ZERO extra stages — the semantics of
    running one LSH index per partition (same hyperplanes), at the cost
    of the global one. The exact analogue of a vector store's metadata
    pre-filter, and the scale path for "match only within X" constraints
    that would otherwise need a post-filter (which silently under-fills
    top-k) or a per-partition driver loop.

    Buckets larger than ``max_bucket_rows`` are deterministically salt-split
    (on the diagonal, see the module doc) so no task's cross-product
    exceeds max_bucket_rows^2; use ``bucket_stats`` to monitor the size
    distribution.

    ``emb_dtype='f16'`` halves the kernel exchange's bytes by quantizing
    the carried vector (see ``signature_buckets``); bucket membership is
    unchanged, in-bucket scores carry ~1e-3 quantization error.

    ``gather`` picks how the kernel obtains vectors:

    - ``'exchange'``: the vector rides every (band, bucket) row through the
      shuffle — n_bands copies of every embedding cross the wire. Always
      correct; the only option when the table is too big to broadcast.
    - ``'broadcast'``: the kernel exchange ships ONLY (band, bucket, salts,
      id) — the narrow rows are ~6-25x smaller than with a carried vector —
      and the kernel gathers rows from a one-time broadcast of the
      quantized embedding matrix (collected once from the persisted
      signature frame's band-0 slice, so the embed stage is NOT
      recomputed). This attacks the measured bottleneck directly: the
      kernel exchange is the largest, most bandwidth-bound shuffle of the
      blocking plan (BASELINE.md protocol v5), and at broadcastable sizes
      (matrix <= ``gather_max_bytes``) nearly all of its bytes are the
      n_bands-fold vector duplication. Same per-value f16/f32 -> f64
      conversion as the exchange kernel — the pair output is
      BIT-IDENTICAL (pytest-gated).
    - ``'auto'`` (default): broadcast when n_rows * dim * itemsize <=
      ``gather_max_bytes`` (n_rows from ``rows_hint``, else one near-free
      count on the persisted signature frame), else exchange — the same
      size-gated pattern as Spark's own broadcast-join threshold and
      ``exact_topk_join``'s chunked broadcast. At 100 TB auto always lands
      on exchange; per-worker memory cost of broadcast is one matrix copy
      per Python worker.

    Kernel width: the exchange path leaves its partition count to AQE
    coalescing. The broadcast path fixes it at
    min(spark.sql.shuffle.partitions, max(defaultParallelism,
    ceil(n_rows * n_bands * dim * 8 / _KERNEL_BYTES))) with
    ``_KERNEL_BYTES`` = 64 MiB: one task per core, since each Python task
    pays a fixed handshake that dwarfs its share of the narrow rows (an
    identity ``mapInPandas`` at ``local[4]``: 0.76-0.80 s over 32
    partitions, 0.24-0.27 s over 4), widened only to bound the f64 block
    a task decodes.

    ``rows_hint`` is ``df``'s row count when the caller knows it (e.g. a
    checkpoint manifest): the auto gate then runs no count job.
    """
    return _lsh_search(
        None, df, id_col, id_col, emb_col, dim=dim, k=k, n_bands=n_bands,
        band_bits=band_bits, seed=seed, max_bucket_rows=max_bucket_rows,
        min_sim=min_sim, emb_dtype=emb_dtype, gather=gather,
        gather_max_bytes=gather_max_bytes, partition_by=partition_by,
        rows_hint=rows_hint,
    )


def lsh_candidates_dyadic(
    left: DataFrame,
    right: DataFrame,
    l_id: str = "id",
    r_id: str = "id",
    emb_col: str = EMBEDDING,
    dim: int = 300,
    k: int = 50,
    n_bands: int = 8,
    band_bits: int = 12,
    seed: int = 1234,
    max_bucket_rows: int = 5_000,
    min_sim: float | None = None,
    emb_dtype: str = "f32",
    gather: str = "auto",
    gather_max_bytes: int = 64 << 20,
    rows_hint: int | None = None,
) -> DataFrame:
    """Dyadic (left-vs-right) LSH candidate generation — the scale path for
    the reference's two-table blocking: -> (l_id, r_id, sim, rank), the
    top-k right rows per left row. Both id columns must have the same type
    (TypeError before any Spark job otherwise).

    Hot buckets are GRID salt-split, never truncated (fix for VERDICT r1
    #2): a bucket with SL = ceil(size_l/max_bucket_rows) left splits and
    SR = ceil(size_r/max_bucket_rows) right splits becomes an SL x SR grid
    of tasks keyed (band, bucket, salt_l, salt_r), so every (l, r) pair of
    the bucket is examined exactly once — per-task cross-products stay
    bounded by max_bucket_rows^2 with zero recall loss vs the uncapped
    bucket.

    ``gather`` has the ``lsh_candidates`` contract, with bit-identical
    output either way: ``'auto'`` broadcasts BOTH sides' quantized
    matrices when each fits ``gather_max_bytes``, and the kernel width
    counts both sides' rows. The broadcast path requires per-side-unique
    ids. ``rows_hint`` is the INDEX (``right``) side's row count; the
    gate counts only ``left``."""
    return _lsh_search(
        left, right, l_id, r_id, emb_col, dim=dim, k=k, n_bands=n_bands,
        band_bits=band_bits, seed=seed, max_bucket_rows=max_bucket_rows,
        min_sim=min_sim, emb_dtype=emb_dtype, gather=gather,
        gather_max_bytes=gather_max_bytes, rows_hint=rows_hint,
    )


class LSHVectorPairing(VectorPairing):
    """Drop-in approximate alternative to ExactTopKVectorPairing: same
    index/query seam (see pairing.VectorPairing), LSH-bucketed execution."""

    def __init__(self, k: int = 50, dim: int = 300, n_bands: int = 8,
                 band_bits: int = 12, seed: int = 1234,
                 max_bucket_rows: int = 5_000, min_sim: float | None = None,
                 emb_dtype: str = "f32", gather: str = "auto",
                 gather_max_bytes: int = 64 << 20):
        self.k, self.dim = k, dim
        self.n_bands, self.band_bits, self.seed = n_bands, band_bits, seed
        self.max_bucket_rows, self.min_sim = max_bucket_rows, min_sim
        self.emb_dtype = emb_dtype
        self.gather, self.gather_max_bytes = gather, gather_max_bytes

    def _search(self, left, l_id, emb_col):
        opts = (self.dim, self.k, self.n_bands, self.band_bits, self.seed,
                self.max_bucket_rows, self.min_sim, self.emb_dtype,
                self.gather, self.gather_max_bytes)
        if left is None:
            return lsh_candidates(self._right, self._r_id, emb_col, *opts,
                                  rows_hint=self._rows)
        return lsh_candidates_dyadic(left, self._right, l_id, self._r_id,
                                     emb_col, *opts, rows_hint=self._rows)

    def params(self) -> dict:
        return {"lsh": [self.n_bands, self.band_bits, self.max_bucket_rows,
                        self.emb_dtype]}
