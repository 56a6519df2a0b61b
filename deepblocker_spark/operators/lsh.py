"""LSH-bucketed cosine candidate generation — the scale path for the top-K
similarity join (SURVEY.md §7.2 step 9; BASELINE.json north_star).

No reference counterpart: the reference's ExactTopK materializes the full
N_l x N_r similarity matrix (/root/reference/vector_pairing_models.py:44),
an O(N^2) wall. Here:

  random-hyperplane signatures (carrying the vector — no join back to the
  source)  ->  band buckets  ->  shuffle on bucket key  ->  per-bucket exact
  cosine (sort-based grouped map, operators/grouped.py)  ->  fused
  dedup + global per-left top-K (one more shuffle, vectorized kernel).

Design-for-scale notes:
  * The hyperplane matrix is derived from a seed — every executor
    regenerates it identically; nothing is shipped.
  * Signature computation is one matmul + bitpacking per Arrow batch.
  * The only shuffle is groupBy(band, bucket, salt*); hot buckets
    (boilerplate files, licenses — FIXTURES.md F1 skew note) are SALT-SPLIT
    deterministically in both the self-join and dyadic paths — never
    truncated — bounding every task's cross-product at max_bucket_rows^2;
    ``bucket_stats`` exposes the size distribution for monitoring.
  * Exact mode (operators/topk.py) remains the recall oracle; recall@K of
    LSH vs exact is measured in tests and bench.
"""

from __future__ import annotations

from collections.abc import Iterator

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
    _dedup_topk,
    group_slices,
    grouped_map_in_pandas,
    pack_topk,
    topk_per_key,
)
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
    emb_binary: bool = False,
    emb_dtype: str = "f32",
) -> DataFrame:
    """-> DataFrame(id, band int, bucket long[, emb][, extras]): one row per
    (row, band). bucket = the band's sign bits packed into an int64.

    ``include_emb=True`` carries the embedding through the signature pass so
    the candidate kernels need NO join back to the source table — the
    vector has to travel to every (band, bucket) group anyway, and emitting
    it here replaces a full shuffle join (sigs x source on id) with zero
    extra stages. The bucket-size pass uses the bare variant (no emb), so
    nothing pays for columns it doesn't read. ``extra_cols`` passes
    additional source columns through unchanged (replicated per band) —
    used by the streaming path to keep the event-time column for
    watermarking.

    ``emb_binary=True`` packs the carried embedding as one little-endian
    float32 blob per row instead of ``array<float>``. Profiling the 240k
    scaling job showed the JVM's row<->Arrow conversion of ~1.9M LIST
    columns dominating the exchange stages' CPU (and that CPU inflating
    ~1.7x under 8-core memory-bus contention); a BinaryType column moves as
    one memcpy per row, the per-band duplication shares the same immutable
    bytes objects, and the kernel decodes the whole partition with a single
    ``np.frombuffer`` — bit-identical f32 payload, same shuffle bytes.
    Only for numpy-kernel consumers (the batch LSH paths); the streaming
    path keeps arrays for JVM ``cosine_col``.

    ``emb_dtype='f16'`` (binary transport only) additionally quantizes the
    blob to little-endian float16 — HALF the exchange bytes for the
    kernel's wide rows, aimed squarely at the measured bottleneck: the
    bucket-kernel and merge stages are memory-bandwidth-bound (BASELINE.md
    protocol v5; the STREAM-triad control caps their scaling on a shared
    bus), and at 100 TB the kernel exchange is the single largest shuffle
    of the blocking plan. Bucket keys are UNAFFECTED (signs are computed
    from the full-precision vector before packing), so candidate
    *generation* is identical; only the in-bucket cosine scores see the
    ~1e-3 relative quantization error, which can reorder near-ties in the
    top-K tail (recall property-tested in tests/test_lsh_f16.py). Default
    stays f32: hash-locked oracle outputs are bit-identical."""
    if emb_dtype not in ("f32", "f16"):
        raise ValueError(f"unknown emb_dtype: {emb_dtype!r} (use 'f32' or 'f16')")
    extra_cols = extra_cols or []
    fields = [
        StructField(id_col, df.select(id_col).schema.fields[0].dataType, True),
        StructField("band", IntegerType(), False),
        StructField("bucket", LongType(), False),
    ]
    if include_emb:
        emb_type = BinaryType() if emb_binary else df.schema[emb_col].dataType
        fields.append(StructField("_emb", emb_type, True))
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
                if emb_binary:
                    # f32: lossless (the engine's EMBEDDING column is
                    # array<float>); f16: quantized transport, half bytes
                    xq = x_arr.astype(
                        np.float16 if emb_dtype == "f16" else np.float32,
                        copy=False,
                    )
                    raw = xq.tobytes()
                    stride = xq.shape[1] * xq.dtype.itemsize
                    blobs = [raw[i * stride : (i + 1) * stride] for i in range(n)]
                    out["_emb"] = blobs * nb  # list-repeat shares the bytes
                else:
                    out["_emb"] = list(pdf[emb_col]) * nb
            for c in extra_cols:
                out[c] = list(pdf[c]) * nb
            yield out

    return df.select(id_col, emb_col, *extra_cols).mapInPandas(run, out_schema)


def bucket_stats(buckets: DataFrame) -> DataFrame:
    """Bucket-size distribution for skew monitoring: (band, bucket, size)."""
    return buckets.groupBy("band", "bucket").agg(F.count("*").alias("size"))


# Worker-lifetime id->row lookup for the broadcast-gather kernel: building
# the hash Index once per (worker, broadcast) instead of once per Arrow
# batch (same cap-at-2 shape as topk.py's f32 cache — at most two gathers
# are ever live, e.g. the two sides of a dyadic join).
_GATHER_INDEX_CACHE: dict[int, pd.Index] = {}


def _gather_rows(bc, ids_all: np.ndarray) -> np.ndarray:
    """Rows of the broadcast (ids, matrix) pair for ``ids_all``, via a
    cached pandas Index (any hashable id dtype)."""
    ids, mat = bc.value
    # identity key: Broadcast.value is cached per worker process, so the
    # unpickled ids array is the same object across batches (the same
    # identity-key pattern as topk.py's f32 cache)
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
                    emb_binary: bool = False, emb_dtype: str = "f32",
                    extra_cols: list[str] | None = None) -> DataFrame:
    """Signatures computed ONCE per side (VERDICT r2 #2): the oversized-bucket
    collect and the candidate kernel both read the persisted frame."""
    from pyspark import StorageLevel

    return tracked_persist(signature_buckets(
        df, id_col, emb_col, dim, n_bands, band_bits, seed, include_emb=True,
        emb_binary=emb_binary, emb_dtype=emb_dtype, extra_cols=extra_cols,
    ), StorageLevel.MEMORY_AND_DISK)


def _oversized_buckets(sigs: DataFrame, max_bucket_rows: int, cols: list[str]):
    """Collect the (tiny by construction) oversized-bucket list from a narrow
    projection of the persisted signature frame — this is the action that
    materializes the cache, so the candidate pass reads signatures for free.
    Returns [(band, bucket, n_splits), ...]."""
    return (
        sigs.select("band", "bucket")
        .groupBy("band", "bucket")
        .agg(F.count("*").alias("size"))
        .filter(F.col("size") > max_bucket_rows)
        .withColumn(
            "_splits", F.ceil(F.col("size") / F.lit(max_bucket_rows)).cast("int")
        )
        .select(*cols)
        .collect()
    )


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
    so no task's cross-product exceeds max_bucket_rows^2; use
    ``bucket_stats`` to monitor the size distribution.

    ``emb_dtype='f16'`` halves the kernel exchange's bytes by quantizing
    the carried vector (see ``signature_buckets``); bucket membership is
    unchanged, in-bucket scores carry ~1e-3 quantization error.

    ``gather`` picks how the kernel obtains vectors:

    - ``'exchange'``: the vector rides every (band, bucket) row through the
      shuffle — n_bands copies of every embedding cross the wire. Always
      correct; the only option when the table is too big to broadcast.
    - ``'broadcast'``: the kernel exchange ships ONLY (band, bucket, salt,
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
      ``gather_max_bytes`` (one near-free count on the persisted signature
      frame), else exchange — the same size-gated pattern as Spark's own
      broadcast-join threshold and ``exact_topk_join``'s chunked
      broadcast. At 100 TB auto always lands on exchange; per-worker
      memory cost of broadcast is one matrix copy per Python worker.
    """
    if gather not in ("auto", "broadcast", "exchange"):
        raise ValueError(
            f"unknown gather: {gather!r} (use 'auto', 'broadcast' or 'exchange')"
        )
    # Skew handling: oversized (hot) buckets are SALT-SPLIT, not truncated —
    # rows in a bucket bigger than max_bucket_rows get a deterministic
    # sub-bucket salt (xxhash64(id) % n_splits), bounding every task's
    # cross-product. Pairs spanning two splits of the same mega-bucket are
    # only lost if the pair also collides in no other band — the standard
    # multi-band recall argument applies. Cold buckets keep salt 0.
    # Signatures are computed ONCE into a persisted frame (VERDICT r2 #2);
    # the bucket-size pass is a narrow projection of it, collected eagerly
    # (which materializes the cache), so the candidate pass pays no second
    # scan + matmul. The oversized list is tiny by construction: when empty
    # (the common healthy case) the salt is a literal 0 and the plan has NO
    # join at all; when non-empty it is re-injected as a broadcast local
    # relation — never a shuffle join (VERDICT r1 plan-audit note). The
    # embedding rides the signature frame, so there is NO join back to the
    # source table — the only big shuffle is groupBy(band, bucket, salt).
    sigs = _persisted_sigs(df, id_col, emb_col, dim, n_bands, band_bits, seed,
                           emb_binary=True, emb_dtype=emb_dtype,
                           extra_cols=[partition_by] if partition_by else None)
    if partition_by is not None:
        # scope every bucket to its partition value; downstream is unchanged
        sigs = sigs.withColumn(
            "bucket", F.xxhash64(F.col(partition_by), F.col("bucket"))
        ).drop(partition_by)
    over_rows = _oversized_buckets(
        sigs, max_bucket_rows, ["band", "bucket", "_splits"]
    )
    if over_rows:
        over = df.sparkSession.createDataFrame(
            over_rows,
            StructType(
                [
                    StructField("band", IntegerType(), False),
                    StructField("bucket", LongType(), False),
                    StructField("_splits", IntegerType(), False),
                ]
            ),
        )
        joined = (
            sigs.join(F.broadcast(over), ["band", "bucket"], "left")
            .withColumn(
                "salt",
                F.when(F.col("_splits").isNull(), F.lit(0)).otherwise(
                    F.pmod(F.xxhash64(F.col(id_col)), F.col("_splits"))
                ).cast("int"),
            )
            .drop("_splits")
        )
    else:
        joined = sigs.withColumn("salt", F.lit(0))

    # Broadcast-gather decision (see the docstring): the signature frame is
    # persisted and n_rows = sigs.count() / n_bands exactly, so the auto
    # gate costs one cached count, no extra scan.
    dt_item = 2 if emb_dtype == "f16" else 4
    use_broadcast = gather == "broadcast"
    if gather == "auto":
        n_rows = sigs.count() // max(n_bands, 1)
        use_broadcast = n_rows * dim * dt_item <= gather_max_bytes
    emb_bc = None
    if use_broadcast:
        b0 = sigs.filter(F.col("band") == 0).select(id_col, "_emb").toPandas()
        dt_np = np.float16 if emb_dtype == "f16" else np.float32
        mat = (
            np.frombuffer(b"".join(b0["_emb"].to_numpy()), dtype=dt_np)
            .reshape(len(b0), -1)
            if len(b0)
            else np.zeros((0, dim), dtype=dt_np)
        )
        emb_bc = _tracked(df.sparkSession.sparkContext, 
            (b0[id_col].to_numpy(), mat)
        )
        joined = joined.select("band", "bucket", "salt", id_col)
        # The narrow rows shrink the kernel exchange ~6-25x — enough that
        # AQE's advisory size would coalesce it to a handful of fat
        # partitions and starve the kernel stage of parallelism (the
        # kernel's matmul work per row is UNCHANGED by row width). An
        # explicit partition count keeps the bare repartition exempt from
        # AQE coalescing at the session's configured width.
        gather_partitions = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )

    id_type = df.select(id_col).schema.fields[0].dataType
    # PACKED kernel output: one row per l_id with parallel (r_id, sim)
    # arrays (grouped.pack_topk) — the merge exchange carries ~k-fold
    # fewer rows for the same payload; bit-identical final pairs
    pair_schema = StructType(
        [
            StructField("l_id", id_type, True),
            StructField("_r", ArrayType(id_type), True),
            StructField("_s", ArrayType(DoubleType()), True),
        ]
    )

    def buckets_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        # one stack/normalize for the whole multi-group frame, tiny numpy
        # slices per bucket (see grouped.py module doc for why this beats
        # per-group applyInPandas)
        ids_all = pdf[id_col].to_numpy()
        if emb_bc is not None:
            x_all = _gather_rows(emb_bc, ids_all)
        else:
            buf = b"".join(pdf["_emb"].to_numpy())
            dt = np.float16 if emb_dtype == "f16" else np.float32
            x_all = np.frombuffer(buf, dtype=dt).reshape(len(pdf), -1)
        x_all = normalize_rows(np.nan_to_num(x_all.astype(np.float64)))
        out_l, out_r, out_s = [], [], []
        for a, b in group_slices(pdf, ["band", "bucket", "salt"]):
            n = b - a
            if n < 2:
                continue
            ids = ids_all[a:b]
            x = x_all[a:b]
            sims = x @ x.T
            kk = min(k, n - 1)
            # top-(k+1) incl. self, then drop self
            take = min(kk + 1, n)
            part = np.argpartition(-sims, take - 1, axis=1)[:, :take]
            rows = np.repeat(np.arange(n), take)
            cols = part.ravel()
            keep = rows != cols
            rows, cols = rows[keep], cols[keep]
            out_l.append(ids[rows])
            out_r.append(ids[cols])
            out_s.append(sims[rows, cols])
        if not out_l:
            return pd.DataFrame({"l_id": [], "_r": [], "_s": []})
        # map-side combiner FUSED into the kernel call (the python-sort
        # grouped map hands the kernel its whole partition, so this IS the
        # per-partition local top-k) — the pairs never take an extra
        # Python<->JVM Arrow round-trip through a chained combiner pass
        local = _dedup_topk(
            pd.DataFrame(
                {
                    "l_id": np.concatenate(out_l),
                    "r_id": np.concatenate(out_r),
                    "sim": np.concatenate(out_s),
                }
            ),
            k, "l_id", "r_id", "sim", with_rank=False,
        )
        if min_sim is not None:
            # pre-merge row filter — commutes with the merge's dedup+topk,
            # so filtering here (before packing) is identical to filtering
            # the unpacked exchange rows
            local = local[local["sim"].to_numpy() >= min_sim]
        return pack_topk(local, "l_id", "r_id", "sim")

    pairs = grouped_map_in_pandas(
        joined, ["band", "bucket", "salt"], buckets_kernel, pair_schema,
        num_partitions=gather_partitions if use_broadcast else None,
    )
    # fused dedup + per-left top-K: one shuffle instead of the
    # dropDuplicates exchange + window exchange; combiner already applied
    # inside the kernel, min_sim already applied pre-pack
    return topk_per_key(
        pairs, k, key="l_id", other="r_id", sim="sim", pre_combine=False,
        packed_input=True,
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
) -> DataFrame:
    """Dyadic (left-vs-right) LSH candidate generation — the scale path for
    the reference's two-table blocking. Both sides get signatures from the
    SAME seeded hyperplanes (a must: bucket keys are only comparable under
    identical planes); the shuffle co-locates each (band, bucket) group with
    a side marker, and the per-bucket kernel computes left x right cosine
    blocks. Global per-left top-K via window merge.

    Hot buckets are GRID salt-split, never truncated (fix for VERDICT r1
    #2): a bucket with SL = ceil(size_l/max_bucket_rows) left splits and
    SR = ceil(size_r/max_bucket_rows) right splits becomes an SL x SR grid
    of tasks keyed (band, bucket, salt_l, salt_r). Each left row lands in
    its hash split salt_l and is replicated across all SR right splits (and
    symmetrically for right rows), so every (l, r) pair of the bucket is
    examined exactly once — per-task cross-products stay bounded by
    max_bucket_rows^2 with zero recall loss vs the uncapped bucket.

    ``gather`` (round 6 — ported from ``lsh_candidates``, same contract,
    bit-identical output either way): ``'auto'`` broadcasts BOTH sides'
    quantized matrices when each fits ``gather_max_bytes``, so the kernel
    exchange ships only (band, bucket, salts, id, side) — the n_bands-fold
    vector duplication (the widest shuffle of the dyadic plan) never
    crosses the wire; above the gate (always, at 100 TB) the vector rides
    the exchange as before. Requires per-side-unique ids on the broadcast
    path (same contract as the self path's gather). The kernel output is
    also packed (one row per l_id with parallel arrays, grouped.pack_topk)
    — ~k-fold fewer merge-exchange rows, identical final pairs."""
    # One signature pass per side (VERDICT r2 #2): each side's emb-carrying
    # signature frame is persisted and consumed by BOTH its bucket-size
    # aggregation (a narrow projection, collected eagerly — this is what
    # materializes the cache) and the candidate kernel. The merged oversized
    # list is tiny by construction; when empty (healthy case) both salts are
    # literal 0 and the plan has neither a join nor an explode.
    l_sigs = _persisted_sigs(left, l_id, emb_col, dim, n_bands, band_bits, seed,
                             emb_binary=True, emb_dtype=emb_dtype)
    r_sigs = _persisted_sigs(right, r_id, emb_col, dim, n_bands, band_bits, seed,
                             emb_binary=True, emb_dtype=emb_dtype)
    grid: dict[tuple[int, int], list[int]] = {}
    for row in _oversized_buckets(l_sigs, max_bucket_rows, ["band", "bucket", "_splits"]):
        grid[(row["band"], row["bucket"])] = [row["_splits"], 1]
    for row in _oversized_buckets(r_sigs, max_bucket_rows, ["band", "bucket", "_splits"]):
        grid.setdefault((row["band"], row["bucket"]), [1, 1])[1] = row["_splits"]

    if grid:
        splits = left.sparkSession.createDataFrame(
            [(b, k, sl, sr) for (b, k), (sl, sr) in grid.items()],
            StructType(
                [
                    StructField("band", IntegerType(), False),
                    StructField("bucket", LongType(), False),
                    StructField("_sl", IntegerType(), False),
                    StructField("_sr", IntegerType(), False),
                ]
            ),
        )

        def salted(sigs: DataFrame, key: str, side: int) -> DataFrame:
            own, other = ("_sl", "_sr") if side == 0 else ("_sr", "_sl")
            return (
                sigs.join(F.broadcast(splits), ["band", "bucket"], "left")
                .withColumn("_own", F.coalesce(F.col(own), F.lit(1)))
                .withColumn("_other", F.coalesce(F.col(other), F.lit(1)))
                .withColumn("_my_salt", F.pmod(F.xxhash64(F.col(key)), F.col("_own")).cast("int"))
                .withColumn(
                    "_rep_salt",
                    F.explode(F.sequence(F.lit(0), (F.col("_other") - 1).cast("int"))),
                )
                .select(
                    F.col(key).alias("_id"), "band", "bucket",
                    (F.col("_my_salt") if side == 0 else F.col("_rep_salt")).alias("salt_l"),
                    (F.col("_rep_salt") if side == 0 else F.col("_my_salt")).alias("salt_r"),
                    "_emb", F.lit(side).alias("_side"),
                )
            )
    else:

        def salted(sigs: DataFrame, key: str, side: int) -> DataFrame:
            return sigs.select(
                F.col(key).alias("_id"), "band", "bucket",
                F.lit(0).alias("salt_l"), F.lit(0).alias("salt_r"),
                "_emb", F.lit(side).alias("_side"),
            )

    if gather not in ("auto", "broadcast", "exchange"):
        raise ValueError(
            f"unknown gather: {gather!r} (use 'auto', 'broadcast' or 'exchange')"
        )
    both = salted(l_sigs, l_id, 0).unionByName(salted(r_sigs, r_id, 1))

    # Broadcast-gather gate (see docstring): counts are near-free — the
    # signature frames are persisted and already materialized by the
    # bucket-size collects above.
    dt_item = 2 if emb_dtype == "f16" else 4
    use_broadcast = gather == "broadcast"
    if gather == "auto":
        n_l = l_sigs.count() // max(n_bands, 1)
        n_r = r_sigs.count() // max(n_bands, 1)
        use_broadcast = (
            n_l * dim * dt_item <= gather_max_bytes
            and n_r * dim * dt_item <= gather_max_bytes
        )
    emb_bcs = None
    gather_partitions = None
    if use_broadcast:
        dt_np = np.float16 if emb_dtype == "f16" else np.float32

        def _collect_side(sigs: DataFrame, key: str):
            b0 = sigs.filter(F.col("band") == 0).select(key, "_emb").toPandas()
            mat = (
                np.frombuffer(b"".join(b0["_emb"].to_numpy()), dtype=dt_np)
                .reshape(len(b0), -1)
                if len(b0)
                else np.zeros((0, dim), dtype=dt_np)
            )
            return _tracked(
                left.sparkSession.sparkContext, (b0[key].to_numpy(), mat)
            )

        emb_bcs = (_collect_side(l_sigs, l_id), _collect_side(r_sigs, r_id))
        both = both.select("band", "bucket", "salt_l", "salt_r", "_id", "_side")
        # same AQE-coalescing exemption as the self path: narrow rows must
        # not shrink the kernel stage's parallelism (matmul work per row is
        # unchanged by row width)
        gather_partitions = int(
            left.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )

    l_type = left.select(l_id).schema.fields[0].dataType
    r_type = right.select(r_id).schema.fields[0].dataType
    # packed kernel output (one row per l_id, parallel (r_id, sim) arrays):
    # the merge exchange carries ~k-fold fewer rows, bit-identical pairs
    pair_schema = StructType(
        [
            StructField("l_id", l_type, True),
            StructField("_r", ArrayType(r_type), True),
            StructField("_s", ArrayType(DoubleType()), True),
        ]
    )

    def buckets_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        ids_all = pdf["_id"].to_numpy()
        side_all = pdf["_side"].to_numpy()
        if emb_bcs is not None:
            lmask_all = side_all == 0
            x_all = np.empty((len(pdf), dim), dtype=np.float64)
            # per-side gather (upcast on assign == the self path's astype)
            x_all[lmask_all] = _gather_rows(emb_bcs[0], ids_all[lmask_all])
            x_all[~lmask_all] = _gather_rows(emb_bcs[1], ids_all[~lmask_all])
            x_all = normalize_rows(np.nan_to_num(x_all))
        else:
            buf = b"".join(pdf["_emb"].to_numpy())
            dt = np.float16 if emb_dtype == "f16" else np.float32
            x_all = np.frombuffer(buf, dtype=dt).reshape(len(pdf), -1)
            x_all = normalize_rows(np.nan_to_num(x_all.astype(np.float64)))
        out_l, out_r, out_s = [], [], []
        for a, b in group_slices(pdf, ["band", "bucket", "salt_l", "salt_r"]):
            side = side_all[a:b]
            lmask = side == 0
            if not lmask.any() or lmask.all():
                continue
            lids, rids = ids_all[a:b][lmask], ids_all[a:b][~lmask]
            lx, rx = x_all[a:b][lmask], x_all[a:b][~lmask]
            sims = lx @ rx.T
            kk = min(k, sims.shape[1])
            part = np.argpartition(-sims, kk - 1, axis=1)[:, :kk] if kk < sims.shape[1] \
                else np.broadcast_to(np.arange(sims.shape[1]), sims.shape).copy()
            rows = np.repeat(np.arange(len(lids)), part.shape[1])
            cols = part.ravel()
            out_l.append(lids[rows])
            out_r.append(rids[cols])
            out_s.append(sims[rows, cols])
        if not out_l:
            return pd.DataFrame({"l_id": [], "_r": [], "_s": []})
        # fused map-side combiner (see lsh_candidates.buckets_kernel)
        local = _dedup_topk(
            pd.DataFrame(
                {
                    "l_id": np.concatenate(out_l),
                    "r_id": np.concatenate(out_r),
                    "sim": np.concatenate(out_s),
                }
            ),
            k, "l_id", "r_id", "sim", with_rank=False,
        )
        if min_sim is not None:
            # pre-merge row filter — commutes with the merge's dedup+topk
            local = local[local["sim"].to_numpy() >= min_sim]
        return pack_topk(local, "l_id", "r_id", "sim")

    pairs = grouped_map_in_pandas(
        both, ["band", "bucket", "salt_l", "salt_r"], buckets_kernel,
        pair_schema,
        num_partitions=gather_partitions if use_broadcast else None,
    )
    return topk_per_key(
        pairs, k, key="l_id", other="r_id", sim="sim", pre_combine=False,
        packed_input=True,
    )


class LSHVectorPairing:
    """Drop-in approximate alternative to ExactTopKVectorPairing: same
    index/query seam, LSH-bucketed execution. Self-join mode when query is
    called with the indexed DataFrame itself; dyadic mode otherwise."""

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

    def index(self, right: DataFrame, r_id: str = "id", emb_col: str = EMBEDDING):
        self._right, self._r_id, self._emb = right, r_id, emb_col
        return self

    def query(self, left: DataFrame, l_id: str = "id",
              emb_col: str | None = None, mode: str = "auto") -> DataFrame:
        """``mode``: 'self' (left IS the indexed table — self-pairs
        excluded), 'dyadic', or 'auto'. Auto falls back to OBJECT IDENTITY
        with the indexed DataFrame — an equal-but-distinct frame of the same
        table (e.g. re-read from a checkpoint) runs dyadic and leaks
        self-pairs (ADVICE r2); pass mode='self' explicitly in that case."""
        if mode not in ("auto", "self", "dyadic"):
            raise ValueError(f"unknown query mode: {mode!r}")
        if mode == "self" or (mode == "auto" and left is self._right):
            return lsh_candidates(
                self._right, self._r_id, emb_col or self._emb, self.dim, self.k,
                self.n_bands, self.band_bits, self.seed, self.max_bucket_rows,
                self.min_sim, self.emb_dtype, self.gather,
                self.gather_max_bytes,
            )
        return lsh_candidates_dyadic(
            left, self._right, l_id, self._r_id, emb_col or self._emb, self.dim,
            self.k, self.n_bands, self.band_bits, self.seed, self.max_bucket_rows,
            self.min_sim, self.emb_dtype, self.gather, self.gather_max_bytes,
        )
