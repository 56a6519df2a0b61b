"""SemDeDup — semantic (embedding-space) deduplication via cluster-scoped
near-duplicate detection.

Abbas et al., "SemDeDup: Data-efficient learning at web-scale through
semantic deduplication" (arXiv 2303.09540): k-means-cluster the corpus
embeddings, compare pairs ONLY within a cluster, and drop all but one
representative from every group of semantic near-duplicates (pairwise
cosine >= threshold). The cluster scoping is what makes the quadratic
pair search tractable at web scale — this module re-expresses it on the
repo's existing IVF machinery (operators/ann.py): driver-side spherical
k-means on a bounded deterministic sample for centroids, one vectorized
``mapInPandas`` assignment pass (binary-blob vector transport), and a
sort-based grouped-map kernel per (cell, salt_q, salt_i) grid task.

Kept-representative rule (deterministic, order-free): a row is DROPPED iff
some row in the same cell has cosine >= threshold and a strictly smaller
id. The smallest id of every intra-cell near-duplicate neighborhood
therefore always survives, and the rule needs no iteration or tie-breaks —
each row's verdict is a pure function of its cell's contents. (The paper
keeps the member farthest from the centroid; min-id is the same
one-per-neighborhood semantics made deterministic for oracle checking.)

Scale shape (the 100 TB plan): per-cell work is O(|cell|^2), so cells must
stay bounded — ``n_cells`` defaults to the IVF sqrt(N) rule, and hot cells
(skewed corpora collapsing into a boilerplate mega-cell) are GRID
salt-split with ZERO semantic loss: every row rides once as an index row
(role 0, in its hash split) and once as a query row (role 1, replicated
across the cell's index splits), so each (query, index) pair of the cell
is examined in exactly one task, per-task cost is bounded by
max_cell_rows^2, and the per-task partial verdicts OR/sum exactly under
the final groupBy (index splits partition the cell). Two shuffles total:
the grouped-map sort and the verdict agg.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from deepblocker_spark.operators.ann import (
    _assign_cells,
    _auto_n_cells,
    _train_centroids,
    grid_salt_split,
)
from deepblocker_spark.operators.bc_registry import (
    tracked_broadcast as _tracked,
    tracked_persist,
)


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    threshold: float = 0.4,
    n_cells: int | None = None,
    seed: int = 1234,
    max_cell_rows: int = 5_000,
    rows_hint: int | None = None,
    keep: str = "min_id",
) -> DataFrame:
    """-> (id, cell, kept, n_dups_prior): every input row with its home
    cell, whether it survives SemDeDup, and how many same-cell rows above
    the cosine threshold outrank it under the keep rule (0 iff kept).

    ``keep`` picks the one-per-neighborhood survivor rule, both
    deterministic and order-free (each row's verdict is a pure function
    of its cell's contents):

      * ``"min_id"`` (default) — the smallest id outranks; the rule the
        hash oracles check.
      * ``"farthest"`` — the member FARTHEST from its cell centroid
        outranks (the SemDeDup paper's rule, §3: among semantic
        duplicates keep the one with the lowest similarity to the
        centroid — it preserves the cluster's outer, most diverse
        examples); exact float ties fall back to smallest id.

    ``rows_hint`` skips the row-count job that sizes ``n_cells`` when the
    caller already knows N (same contract as pipeline.rows_hint /
    pairing.VectorPairing.index(rows=)). ``max_cell_rows`` bounds every
    kernel task via the grid salt-split — exact semantics at any skew,
    never truncation."""
    if keep not in ("min_id", "farthest"):
        raise ValueError(f"unknown keep rule: {keep!r} (min_id, farthest)")
    import numpy as np
    import pandas as pd
    from pyspark import StorageLevel
    from pyspark.sql.types import (
        BooleanType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    from deepblocker_spark.operators.grouped import (
        _blob_rows,
        group_slices,
        grouped_map_in_pandas,
    )
    from deepblocker_spark.operators.topk import normalize_rows

    n_rows = rows_hint
    if n_cells is None:
        if n_rows is None:
            n_rows = df.count()
        n_cells = _auto_n_cells(n_rows)
    cents = _train_centroids(df, id_col, emb_col, n_cells, seed,
                             rows_hint=n_rows)
    cents_bc, dim = _tracked(df.sparkSession.sparkContext, cents), cents.shape[1]
    # one assignment pass; role 0 = index copy. The role-1 query copies are
    # minted from the SAME frame (cache + union) so assignment runs once.
    assigned = tracked_persist(_assign_cells(
        df, id_col, emb_col, cents_bc, nprobe=1, emit_home=True, emit_probes=False
    ), StorageLevel.MEMORY_AND_DISK)
    both_roles = assigned.unionByName(
        assigned.withColumn("_role", F.lit(1).cast("int"))
    )
    salted = grid_salt_split(both_roles, max_cell_rows)

    id_type = df.select(id_col).schema.fields[0].dataType
    part_schema = StructType(
        [
            StructField("id", id_type, True),
            StructField("cell", IntegerType(), False),
            StructField("n_dups_prior", LongType(), False),
        ]
    )

    def verdict_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        """Per-(cell, salt_q, salt_i) partial verdicts: for every query row,
        count index rows with cos >= threshold that OUTRANK it under the
        keep rule. Index splits partition the cell, so the partials SUM
        exactly — and each row's centroid similarity is recomputed from
        the same broadcast centroids and the same vector bytes in every
        task, so the farthest rule's float comparisons agree across
        splits."""
        outs = []
        roles = pdf["_role"].to_numpy()
        x_all = _blob_rows(pdf["_emb"].to_numpy(), np.float32, dim)
        x_all = normalize_rows(np.nan_to_num(x_all.astype(np.float64)))
        ids_all = pdf["_id"].to_numpy()
        cells_all = pdf["cell"].to_numpy()
        if keep == "farthest":
            cents_arr = cents_bc.value
            cent_sim = np.einsum("ij,ij->i", x_all, cents_arr[cells_all])
        for a, b in group_slices(pdf, ["cell", "salt_q", "salt_i"]):
            g_roles = roles[a:b]
            q_idx = np.nonzero(g_roles == 1)[0] + a
            i_idx = np.nonzero(g_roles == 0)[0] + a
            if not len(q_idx) or not len(i_idx):
                continue
            qids, iids = ids_all[q_idx], ids_all[i_idx]
            sims = x_all[q_idx] @ x_all[i_idx].T
            if keep == "farthest":
                ci, cq = cent_sim[i_idx], cent_sim[q_idx]
                outranks = (ci[None, :] < cq[:, None]) | (
                    (ci[None, :] == cq[:, None]) & (iids[None, :] < qids[:, None])
                )
            else:
                outranks = iids[None, :] < qids[:, None]
            hits = (sims >= threshold) & outranks
            outs.append(
                pd.DataFrame(
                    {
                        "id": qids,
                        "cell": cells_all[q_idx],
                        "n_dups_prior": hits.sum(axis=1).astype(np.int64),
                    }
                )
            )
        if not outs:
            return pd.DataFrame(
                {"id": [], "cell": [], "n_dups_prior": []}
            ).astype({"cell": "int32", "n_dups_prior": "int64"})
        return pd.concat(outs, ignore_index=True)

    partials = grouped_map_in_pandas(
        salted, ["cell", "salt_q", "salt_i"], verdict_kernel, part_schema
    )
    return (
        partials.groupBy("id", "cell")
        .agg(F.sum("n_dups_prior").cast("bigint").alias("n_dups_prior"))
        .select(
            "id",
            "cell",
            (F.col("n_dups_prior") == 0).cast(BooleanType()).alias("kept"),
            "n_dups_prior",
        )
    )


def semantic_dedup_coverage(
    df: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    threshold: float = 0.4,
    n_cells: int | None = None,
    seed: int = 1234,
    min_coverage: float = 0.9,
    keep: str = "min_id",
) -> DataFrame:
    """One-row quality report of the cluster-scoped pass against the EXACT
    semantic-duplicate pair set (brute-force cosine_threshold_join):
    (coverage_ok, n_dup_pairs, n_covered, n_kept, n_rows).

    A dup pair is COVERED when at most one of its endpoints survives —
    pairs straddling two cells are SemDeDup's documented recall loss, so
    coverage < 1 by design; ``min_coverage`` gates it. n_dup_pairs is
    recomputable by any engine from the raw embeddings (the driver-oracle
    anchor); n_kept/n_rows audit the drop rate."""
    from pyspark import StorageLevel

    from deepblocker_spark.operators.topk import cosine_threshold_join

    # one verdict row per input row, 4 narrow columns — persisted because
    # the report consumes it THREE times (both pair endpoints + totals);
    # without the persist the whole assignment+kernel subtree re-executes
    # per consumer (visible as 3x hashpartitioning(id, cell) in the plan)
    verdicts = tracked_persist(semantic_dedup(
        df, id_col, emb_col, threshold=threshold, n_cells=n_cells, seed=seed,
        keep=keep,
    ), StorageLevel.MEMORY_AND_DISK)
    exact = cosine_threshold_join(
        df, df, threshold, l_id=id_col, r_id=id_col, emb_col=emb_col,
        upper_only=True,
    )
    ka = verdicts.select(F.col("id").alias("l_id"), F.col("kept").alias("_ka"))
    kb = verdicts.select(F.col("id").alias("r_id"), F.col("kept").alias("_kb"))
    pair_cov = (
        exact.join(ka, "l_id").join(kb, "r_id")
        .agg(
            F.count("*").cast("bigint").alias("n_dup_pairs"),
            F.sum(
                (~(F.col("_ka") & F.col("_kb"))).cast("bigint")
            ).alias("n_covered"),
        )
    )
    totals = verdicts.agg(
        F.sum(F.col("kept").cast("bigint")).alias("n_kept"),
        F.count("*").cast("bigint").alias("n_rows"),
    )
    return pair_cov.crossJoin(totals).select(
        (
            F.coalesce(F.col("n_covered"), F.lit(0))
            >= F.coalesce(F.col("n_dup_pairs"), F.lit(0)) * min_coverage
        )
        .cast("bigint")
        .alias("coverage_ok"),
        F.coalesce(F.col("n_dup_pairs"), F.lit(0)).cast("bigint").alias("n_dup_pairs"),
        F.coalesce(F.col("n_covered"), F.lit(0)).cast("bigint").alias("n_covered"),
        F.col("n_kept").cast("bigint").alias("n_kept"),
        F.col("n_rows").cast("bigint").alias("n_rows"),
    )
