"""Approximate-nearest-neighbor search over an embedding column.

Every strategy returns (l_id, r_id, sim, rank), rank <= k per l_id:

  * exact top-k (operators/topk.exact_topk_join) — the baseline/oracle;
    right side bounded-broadcast, per-batch blocked BLAS + top-k selection.
  * LSH-bucketed (operators/lsh.py) — cost bounded by bucket sizes instead
    of N^2.
  * IVF (inverted-file cells) — ONE cell path, written here, in the three
    passes of a distributed top-k join:
      1. partition: centroids train on a bounded deterministic sample and
         broadcast; one mapInPandas pass tags every row with its home cell
         (role 0, index row) and/or its ``nprobe`` closest cells (role 1,
         query row);
      2. local top-k: oversized cells are grid salt-split, then a
         sort-based grouped kernel scores each group's queries against its
         index rows and keeps the in-cell top-k;
      3. merge: one fused dedup + top-k per query id.
    The only variant point is what an index row carries and how a cell
    scores it:
      - flat (IVF-flat): the f32/f16 vector; exact cosine ``qx @ ix.T``;
      - ADC (IVFADC, operators/pq.py): the m-byte PQ code; per-subspace
        lookup tables summed (asymmetric distance computation).

``recall_at_k`` measures an approximate path against the exact oracle —
the harness SURVEY.md §7.4(1) calls for when tuning ANN parameters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from deepblocker_spark.operators.pairing import VectorPairing, shared_id_type

from deepblocker_spark.operators.bc_registry import (
    tracked_broadcast as _tracked,
    tracked_persist,
)


def _training_sample(
    df: DataFrame, id_col: str, emb_col: str, sample_rows: int,
    rows_hint: int | None,
):
    """The deterministic training sample shared by the IVF centroids and
    the PQ codebooks (operators/pq.train_pq): L2-normalized float64 rows,
    or None for an empty table. Rows are ranked by xxhash64(id) and the
    smallest ``sample_rows`` kept, so the sample does not depend on
    partition order (VERDICT r1: a bare limit() did). The filter keeps ~2x
    the target at scan cost, so only a tiny survivor set is sorted — same
    shape as pipeline._sample_texts. ``rows_hint`` skips the sizing count;
    the count only decides the filter modulus, so the hint changes no
    sampled row."""
    import numpy as np

    from deepblocker_spark.operators.topk import normalize_rows

    n = rows_hint if rows_hint is not None else df.count()
    if n == 0:
        return None
    p = max(1, n // max(1, 2 * sample_rows))
    pdf = (
        df.select(F.col(emb_col).alias("_e"), F.xxhash64(F.col(id_col)).alias("_h"))
        .filter(F.pmod(F.col("_h"), F.lit(p)) == 0)
        .orderBy("_h")
        .limit(sample_rows)
        .toPandas()
    )
    return normalize_rows(np.nan_to_num(np.stack(pdf["_e"].to_numpy()).astype(np.float64)))


def _train_centroids(
    df: DataFrame, id_col: str, emb_col: str, n_cells: int, seed: int,
    sample_rows: int = 20_000, iters: int = 10,
    rows_hint: int | None = None,
):
    """Driver-side spherical k-means on the bounded training sample (the IVF
    'train' phase — centroids are a few KB and broadcast; the big table
    never leaves the executors)."""
    import numpy as np

    x = _training_sample(df, id_col, emb_col, sample_rows, rows_hint)
    if x is None:
        return np.zeros((0, 0))
    rng = np.random.Generator(np.random.PCG64(seed))
    cents = x[rng.choice(len(x), size=min(n_cells, len(x)), replace=False)].copy()
    for _ in range(iters):
        assign = np.argmax(x @ cents.T, axis=1)
        for c in range(len(cents)):
            members = x[assign == c]
            if len(members):
                m = members.mean(axis=0)
                n = np.linalg.norm(m)
                if n > 0:
                    cents[c] = m / n
    return cents


def _assign_cells(
    df: DataFrame,
    id_col: str,
    emb_col: str,
    cents_bc,
    nprobe: int,
    emit_home: bool,
    emit_probes: bool,
    emb_dtype: str = "f32",
    books_bc=None,
):
    """Cell assignment as a vectorized mapInPandas pass: every row gets its
    home cell (role 0 = index row) and/or its ``nprobe`` closest cells
    (role 1 = query row). Self-search emits both from ONE scan; dyadic
    search runs this once per side.

    The payload travels as ONE little-endian binary blob per row (same
    transport as lsh.signature_buckets): the row<->Arrow LIST conversion
    of wide array columns dominated the exchange stages' JVM CPU, a
    BinaryType column moves as a memcpy, and the nprobe-way duplication
    shares the same immutable bytes objects. Query rows carry the vector;
    index rows carry the vector too (flat), or — given PQ codebooks
    ``books_bc`` — the m-byte PQ code of the normalized vector, computed in
    this same pass (ADC). ``emb_dtype='f16'`` halves the vector bytes;
    cells are computed from the full-precision vector BEFORE packing, so
    cell membership is identical — only in-cell scores see ~1e-3
    quantization error."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import BinaryType, IntegerType, StructField, StructType

    from deepblocker_spark.operators.grouped import _row_blobs, _topk_cols
    from deepblocker_spark.operators.pq import _pq_encode
    from deepblocker_spark.operators.topk import normalize_rows

    if emb_dtype not in ("f32", "f16"):
        raise ValueError(f"unknown emb_dtype: {emb_dtype!r} (use 'f32' or 'f16')")
    dt = np.float16 if emb_dtype == "f16" else np.float32
    id_type = df.select(id_col).schema.fields[0].dataType
    assign_schema = StructType(
        [
            StructField("_id", id_type, True),
            StructField("cell", IntegerType(), False),
            StructField("_role", IntegerType(), False),
            StructField("_emb", BinaryType(), True),
        ]
    )

    def assign(batches):
        c = cents_bc.value
        books = None if books_bc is None else books_bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            x_arr = np.stack(pdf[emb_col].to_numpy())
            x = normalize_rows(np.nan_to_num(x_arr.astype(np.float64)))
            sims = x @ c.T
            if emit_probes or books is None:
                vecs = _row_blobs(x_arr.astype(dt, copy=False))
            cells, roles, payload = [], [], []
            if emit_home:
                cells.append(np.argmax(sims, axis=1))
                roles.append(0)
                payload += vecs if books is None else _row_blobs(_pq_encode(x, books))
            if emit_probes:
                p = min(nprobe, sims.shape[1])
                probes = _topk_cols(sims, p)
                cells += list(probes.T)
                roles += [1] * p
                payload += vecs * p
            yield pd.DataFrame(
                {
                    "_id": np.tile(pdf[id_col].to_numpy(), len(cells)),
                    "cell": np.concatenate(cells).astype(np.int32),
                    "_role": np.repeat(np.array(roles, dtype=np.int32), len(pdf)),
                    "_emb": payload,
                }
            )

    return df.select(id_col, emb_col).mapInPandas(assign, assign_schema)


def _auto_n_cells(rows: int) -> int:
    """~sqrt(N) cells, floored at 16 and capped at 4096 — the standard IVF
    sizing rule (cells ~ sqrt(N) balances probe cost against cell size)."""
    return min(4096, max(16, int(rows ** 0.5)))


def grid_salt_split(assigned: DataFrame, max_cell_rows: int) -> DataFrame:
    """SQ×SI grid split of oversized cells over a role-tagged assignment
    frame (_id, cell, _role, _emb), shared by the IVF search and
    semdedup. A cell whose query or index role exceeds ``max_cell_rows``
    fans out into (cell, salt_q, salt_i) tasks: SQ = ceil(n_queries /
    max_cell_rows), SI = ceil(n_index / max_cell_rows); each query row
    lands in its hash split salt_q and is replicated across all SI index
    splits (index rows symmetrically), so every (query, index) pair is
    examined exactly once — bounded tasks, ZERO recall loss. Healthy cells
    keep literal-zero salts (no join in the plan when nothing is
    oversized). ``assigned`` must already be persisted (it is consumed
    twice: size agg + kernel)."""
    from pyspark.sql.types import IntegerType, StructField, StructType

    over = (
        assigned.select("cell", "_role")
        .groupBy("cell")
        .agg(
            F.sum(F.when(F.col("_role") == 1, 1).otherwise(0)).alias("nq"),
            F.sum(F.when(F.col("_role") == 0, 1).otherwise(0)).alias("ni"),
        )
        .filter((F.col("nq") > max_cell_rows) | (F.col("ni") > max_cell_rows))
        .collect()
    )
    if over:
        ceil = lambda n: -(-int(n) // max_cell_rows)  # noqa: E731
        splits = assigned.sparkSession.createDataFrame(
            [(int(r["cell"]), max(1, ceil(r["nq"])), max(1, ceil(r["ni"]))) for r in over],
            StructType(
                [
                    StructField("cell", IntegerType(), False),
                    StructField("_sq", IntegerType(), False),
                    StructField("_si", IntegerType(), False),
                ]
            ),
        )
        is_q = F.col("_role") == 1
        return (
            assigned.join(F.broadcast(splits), ["cell"], "left")
            .withColumn("_own", F.coalesce(F.when(is_q, F.col("_sq")).otherwise(F.col("_si")), F.lit(1)))
            .withColumn("_other", F.coalesce(F.when(is_q, F.col("_si")).otherwise(F.col("_sq")), F.lit(1)))
            .withColumn("_my", F.pmod(F.xxhash64(F.col("_id")), F.col("_own")).cast("int"))
            .withColumn(
                "_rep",
                F.explode(F.sequence(F.lit(0), (F.col("_other") - 1).cast("int"))),
            )
            .select(
                "_id", "cell",
                F.when(is_q, F.col("_my")).otherwise(F.col("_rep")).alias("salt_q"),
                F.when(is_q, F.col("_rep")).otherwise(F.col("_my")).alias("salt_i"),
                "_role", "_emb",
            )
        )
    return assigned.select(
        "_id", "cell",
        F.lit(0).alias("salt_q"), F.lit(0).alias("salt_i"),
        "_role", "_emb",
    )


def _ivf_pairs(
    assigned: DataFrame,
    k: int,
    id_type,
    dim: int,
    mask_equal_ids: bool,
    max_cell_rows: int = 5_000,
    emb_dtype: str = "f32",
    books_bc=None,
) -> DataFrame:
    """Probed-cell search over the union of role-tagged assignments. Two
    shuffles total: one on (cell, salt_q, salt_i) (sort-based grouped map,
    operators/grouped.py) and one fused dedup(keep-max)+top-K merge — a
    probe pair can surface from several probed cells with identical sim.
    The cell kernel scores flat (exact ``qx @ ix.T``) or, given PQ
    codebooks ``books_bc``, ADC (pq._adc_scores over the index rows'
    codes); everything around the score is shared.

    Hot cells are GRID salt-split, never truncated (VERDICT r2 #1; see
    grid_salt_split): per-task cross-products are bounded by
    max_cell_rows^2 with ZERO recall loss, so a skewed corpus collapsing
    into one mega-cell (boilerplate/empty docs — FIXTURES.md F1) fans out
    instead of serializing on one unbounded task. The assignment frame is
    persisted — one assignment pass total; when no cell is oversized the
    plan keeps its two-exchange shape with no join.
    """
    import numpy as np
    import pandas as pd
    from pyspark import StorageLevel
    from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

    from deepblocker_spark.operators.grouped import (
        _blob_rows,
        _local_topk,
        group_slices,
        grouped_map_in_pandas,
        local_topk_packed,
        topk_per_key,
    )
    from deepblocker_spark.operators.pq import _adc_luts, _adc_scores
    from deepblocker_spark.operators.topk import _pair_sims, normalize_rows

    assigned = tracked_persist(assigned, StorageLevel.MEMORY_AND_DISK)
    salted = grid_salt_split(assigned, max_cell_rows)

    # packed kernel output (round 6, same transport as the LSH kernels):
    # one row per l_id with parallel (r_id, sim) arrays — the merge
    # exchange carries ~k-fold fewer rows, bit-identical final pairs
    pair_schema = StructType(
        [
            StructField("l_id", id_type, True),
            StructField("_r", ArrayType(id_type), True),
            StructField("_s", ArrayType(DoubleType()), True),
        ]
    )
    dt = np.float16 if emb_dtype == "f16" else np.float32

    def vectors(blobs):
        x = _blob_rows(blobs, dt, dim)
        return normalize_rows(np.nan_to_num(x.astype(np.float64)))

    def cell_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        """Per-(cell, salt_q, salt_i) search over a frame of WHOLE groups
        (sort-based grouped map — one Python call per ~batch, not per
        cell). Payloads decode once per frame, not per group: ``q_all`` /
        ``i_all`` hold the query / index rows and ``pos`` maps a frame
        row to its row there."""
        is_q = pdf["_role"].to_numpy() == 1
        ids_all = pdf["_id"].to_numpy()
        blobs = pdf["_emb"].to_numpy()
        outs = []
        if is_q.any() and not is_q.all():
            if books_bc is None:
                # flat: both roles carry vectors — one whole-frame decode
                q_all = i_all = vectors(blobs)
                pos = np.arange(len(pdf))
                score = lambda qx, ix: qx @ ix.T  # noqa: E731
            else:
                books = books_bc.value
                q_all = vectors(blobs[is_q])
                i_all = _blob_rows(blobs[~is_q], np.uint8, books.shape[0])
                pos = np.where(is_q, np.cumsum(is_q), np.cumsum(~is_q)) - 1
                score = lambda qx, codes: _adc_scores(  # noqa: E731
                    _adc_luts(qx, books), codes
                )
            for a, b in group_slices(pdf, ["cell", "salt_q", "salt_i"]):
                q_idx = np.nonzero(is_q[a:b])[0] + a
                i_idx = np.nonzero(~is_q[a:b])[0] + a
                if not len(q_idx) or not len(i_idx):
                    continue
                qx, ix = q_all[pos[q_idx]], i_all[pos[i_idx]]
                # flat: the kept pairs' sims are rescored row-wise, as the
                # exact scan does — a BLAS block's last bit depends on a
                # row's position in its group, which follows arrival order
                rescore = None if books_bc is not None else (
                    lambda r, c: _pair_sims(qx[r], ix[c]))
                outs.append(_local_topk(score(qx, ix), ids_all[q_idx],
                                        ids_all[i_idx], k, mask_equal_ids,
                                        rescore))
        return local_topk_packed(outs, k)

    pairs = grouped_map_in_pandas(
        salted, ["cell", "salt_q", "salt_i"], cell_kernel, pair_schema
    )
    return topk_per_key(pairs, k, packed_input=True)


def _ivf_search(
    left: DataFrame | None,
    right: DataFrame,
    k: int,
    l_id: str,
    r_id: str,
    emb_col: str,
    *,
    n_cells: int | None,
    nprobe: int,
    seed: int,
    max_cell_rows: int,
    rows_hint: int | None,
    emb_dtype: str = "f32",
    pq: tuple[int, int] | None = None,
) -> DataFrame:
    """The one IVF search driver behind ivf_topk[_join] and
    pq.ivf_pq_topk[_join]. ``left=None`` is SELF-search over ``right``: one
    assignment scan emits both roles and equal ids are masked. Otherwise
    ``left`` rows probe their ``nprobe`` nearest cells of the ``right``
    index; both sides must share an id type (ADVICE r2: the cell-union
    frame carries ONE ``_id`` column, so differing types would miscast
    silently).

    Centroids — and, for ``pq=(m, n_codes)``, the PQ codebooks (seed + 1)
    — train on ``right``, sized by ONE row count (skipped by
    ``rows_hint``) that also picks ``n_cells=None`` ~ sqrt(N)."""
    from deepblocker_spark.operators.pq import train_pq

    id_type = shared_id_type(left, right, l_id, r_id, "IVF")
    n_rows = rows_hint if rows_hint is not None else right.count()
    if n_cells is None:
        n_cells = _auto_n_cells(n_rows)
    sc = right.sparkSession.sparkContext
    cents = _train_centroids(right, r_id, emb_col, n_cells, seed, rows_hint=n_rows)
    cents_bc = _tracked(sc, cents)
    books_bc = None
    if pq is not None:
        m, n_codes = pq
        books = train_pq(right, r_id, emb_col, m=m, n_codes=n_codes,
                         seed=seed + 1, rows_hint=n_rows)
        books_bc = _tracked(sc, books)

    def assign(df, id_col, home, probes):
        return _assign_cells(df, id_col, emb_col, cents_bc, nprobe,
                             emit_home=home, emit_probes=probes,
                             emb_dtype=emb_dtype, books_bc=books_bc)

    if left is None:
        assigned = assign(right, r_id, True, True)
    else:
        assigned = assign(right, r_id, True, False).unionByName(
            assign(left, l_id, False, True))
    return _ivf_pairs(assigned, k, id_type, cents.shape[1], left is None,
                      max_cell_rows=max_cell_rows, emb_dtype=emb_dtype,
                      books_bc=books_bc)


def ivf_topk(
    df: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    n_cells: int | None = 16,
    nprobe: int = 3,
    seed: int = 1234,
    max_cell_rows: int = 5_000,
    rows_hint: int | None = None,
    emb_dtype: str = "f32",
) -> DataFrame:
    """IVF-flat approximate top-k SELF-search: assign every vector to its
    nearest centroid cell, probe each query's ``nprobe`` closest cells, and
    search exactly within the probed cells; work per cell is bounded by
    cell size x probes — the standard ANN scale shape. One assignment scan
    emits both roles; cells exceeding ``max_cell_rows`` in either role are
    grid salt-split with zero recall loss (see _ivf_pairs).

    ``n_cells=None`` auto-sizes to ~sqrt(N) (VERDICT r2 #9 — a fixed cell
    count degenerates as the corpus grows); ``rows_hint`` (e.g. a checkpoint
    manifest row count) skips the sizing count.

    -> (l_id, r_id, sim, rank), rank<=k per l_id, self-pairs excluded.
    """
    return _ivf_search(
        None, df, k, id_col, id_col, emb_col, n_cells=n_cells, nprobe=nprobe,
        seed=seed, max_cell_rows=max_cell_rows, rows_hint=rows_hint,
        emb_dtype=emb_dtype,
    )


def ivf_topk_join(
    left: DataFrame,
    right: DataFrame,
    k: int = 10,
    l_id: str = "vec_id",
    r_id: str = "vec_id",
    emb_col: str = "embedding",
    n_cells: int | None = 16,
    nprobe: int = 3,
    seed: int = 1234,
    max_cell_rows: int = 5_000,
    rows_hint: int | None = None,
    emb_dtype: str = "f32",
) -> DataFrame:
    """Dyadic IVF-flat: centroids train on the INDEX side (right), right
    rows land in their home cell only, every left query probes its
    ``nprobe`` nearest cells. Same two-shuffle plan as the self path, same
    grid salt-split for hot cells. ``n_cells=None`` auto-sizes from the
    INDEX side's row count (``rows_hint`` skips that count). Both sides
    must share an id type (TypeError otherwise); cast one side's id first
    if they differ.

    -> (l_id, r_id, sim, rank), rank<=k per left row."""
    return _ivf_search(
        left, right, k, l_id, r_id, emb_col, n_cells=n_cells, nprobe=nprobe,
        seed=seed, max_cell_rows=max_cell_rows, rows_hint=rows_hint,
        emb_dtype=emb_dtype,
    )


class IVFVectorPairing(VectorPairing):
    """IVF-flat behind the shared index/query seam (see
    pairing.VectorPairing): self-search when the query is the indexed
    table, train-on-index / probe-from-query otherwise."""

    def __init__(self, k: int = 50, n_cells: int | None = 16, nprobe: int = 3,
                 seed: int = 1234, max_cell_rows: int = 5_000,
                 emb_dtype: str = "f32"):
        self.k, self.n_cells, self.nprobe, self.seed = k, n_cells, nprobe, seed
        self.max_cell_rows = max_cell_rows
        self.emb_dtype = emb_dtype

    def _search(self, left, l_id, emb_col):
        return _ivf_search(
            left, self._right, self.k, l_id, self._r_id, emb_col,
            n_cells=self.n_cells, nprobe=self.nprobe, seed=self.seed,
            max_cell_rows=self.max_cell_rows, rows_hint=self._rows,
            emb_dtype=self.emb_dtype,
        )

    def params(self) -> dict:
        return {"ivf": [self.n_cells, self.nprobe, self.emb_dtype]}


def recall_at_k(approx: DataFrame, exact: DataFrame) -> DataFrame:
    """Single row: |approx ∩ exact| / |exact| over (l_id, r_id) pairs."""
    a = approx.select("l_id", "r_id").dropDuplicates()
    e = exact.select("l_id", "r_id").dropDuplicates()
    hit = a.join(e, ["l_id", "r_id"]).agg(F.count("*").alias("hits"))
    tot = e.agg(F.count("*").alias("total"))
    return hit.crossJoin(tot).select(
        (F.col("hits") / F.col("total")).alias("recall_at_k"), "hits", "total"
    )
