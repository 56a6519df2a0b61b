"""Canopy blocking (McCallum/Nigam/Ungar, KDD 2000) — cheap-metric
canopies as a blocking stage, re-expressed for a shared-nothing engine.

The classic algorithm is greedy-sequential: draw a random center, sweep
the remaining pool with a cheap similarity, remove points within the
tight threshold from the pool, repeat. That sweep is inherently serial
(each center's pool depends on every previous center), so the published
distributed adaptations replace the sequential draw with an a-priori
center sample. This module does the same, deterministically:

  * centers — rows whose md5(id) 6-hex prefix falls under a rate cutoff
    (the repo's portable sampling idiom, identical in Spark and DuckDB);
    expected ``center_rate`` fraction of rows, independent of partition
    order.
  * cheap metric — word-``n``-gram shingle Jaccard, computed through the
    shingle inverted index (the ``ngram_jaccard_pairs`` join shape): the
    center side of the join is only ~center_rate·N rows, so the join cost
    is center_rate × the full self-join's — that asymmetry is canopy's
    whole point at 100 TB.
  * loose/tight thresholds — assignments with jaccard >= t1 join the
    canopy; those also >= t2 are tagged tier='core' (the points greedy
    canopy would have removed from the pool), the rest tier='loose'.
  * coverage guarantee — greedy canopy leaves no point unassigned
    (an uncovered point becomes its own center); here every row not
    reached by any sampled center (including shingle-less short docs)
    is emitted as its own singleton canopy, jaccard 1.0, tier 'core'.

Downstream, pairs are generated only within canopies (compose with
``key_blocking_pairs`` on ``center``), and the tier column lets a
matcher skip loose-only duplicates of core comparisons.

Fully SQL-expressible: deterministic centers + exact Jaccard, so the
driver oracle recomputes it end to end in DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from deepblocker_spark.functions.tokenizer import tokens_col
from deepblocker_spark.operators.bc_registry import tracked_persist
from deepblocker_spark.operators.dedup import token_shingles
from deepblocker_spark.operators.sampling import rate_to_cutoff


def canopy_blocking(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    center_rate: float = 0.1,
    t1: float = 0.1,
    t2: float = 0.5,
    n: int = 3,
) -> DataFrame:
    """-> (center, ``id_col``, jaccard, tier): every row's canopy
    memberships under deterministic md5-sampled centers, plus singleton
    canopies for uncovered rows. ``t1`` is the loose (join) threshold,
    ``t2`` the tight (core) threshold; ``n`` the shingle width.

    Plan shape: one shingle scan feeds both join sides (the center side
    filtered to ~center_rate·N before the exchange), one inverted-index
    equi-join on the shingle, one pair aggregation, a broadcast-friendly
    size join, and one left-anti coverage pass — no cross join, no
    Python in the hot path.
    """
    if not 0 < center_rate <= 1:
        raise ValueError(f"center_rate must be in (0, 1], got {center_rate}")
    if t2 < t1:
        raise ValueError(f"t2 (tight) must be >= t1 (loose): {t2} < {t1}")

    cutoff = rate_to_cutoff(center_rate)
    is_center = F.substring(F.md5(F.col("id").cast("string")), 1, 6) < cutoff

    sh = df.select(
        F.col(id_col).alias("id"),
        token_shingles(tokens_col(text_col), n).alias("shingles"),
    ).filter(F.size("shingles") > 0)
    sizes = sh.select("id", F.size("shingles").alias("n_sh"))
    inv = sh.select("id", F.explode("shingles").alias("shingle"))
    centers_inv = inv.filter(is_center).select(
        F.col("id").alias("center"), "shingle"
    )

    pi = (
        centers_inv.join(inv, "shingle")
        .groupBy("center", "id")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    jac = (
        pi.join(sizes.select(F.col("id").alias("center"), F.col("n_sh").alias("n_c")), "center")
        .join(sizes.select("id", F.col("n_sh").alias("n_d")), "id")
        .select(
            "center",
            "id",
            (F.col("inter") / (F.col("n_c") + F.col("n_d") - F.col("inter"))).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= t1)
    )
    # Persisted: consumed twice (the output union AND the coverage
    # anti-join); without the barrier Spark re-executes the whole
    # inverted-index join + pair aggregation for the second consumer
    # (verified in the physical plan).
    from pyspark import StorageLevel

    assigned = tracked_persist(jac.select(
        "center",
        "id",
        "jaccard",
        F.when(F.col("jaccard") >= t2, F.lit("core")).otherwise(F.lit("loose")).alias("tier"),
    ), StorageLevel.MEMORY_AND_DISK)

    uncovered = (
        df.select(F.col(id_col).alias("id"))
        .join(assigned.select("id").distinct(), "id", "left_anti")
        .select(
            F.col("id").alias("center"),
            "id",
            F.lit(1.0).alias("jaccard"),
            F.lit("core").alias("tier"),
        )
    )
    return assigned.unionByName(uncovered).withColumnsRenamed({"id": id_col})


def canopy_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    center_rate: float = 0.1,
    t1: float = 0.1,
    t2: float = 0.5,
    n: int = 3,
) -> DataFrame:
    """The blocking OUTPUT of canopy: -> (a, b), a < b — every distinct
    within-canopy candidate pair, the set a downstream matcher scores.
    One co-partitioned self-join on the canopy center plus a distinct
    (pairs sharing several canopies emerge once); singleton canopies
    contribute nothing (no self-pairs). Work ∝ Σ canopy_size², bounded by
    t1 and center_rate — the quantity :func:`canopy_blocking`'s tiers let
    you audit before paying for it."""
    m = canopy_blocking(df, id_col, text_col, center_rate, t1, t2, n).select(
        "center", F.col(id_col).alias("_m")
    )
    l = m.select("center", F.col("_m").alias("a"))
    r = m.select("center", F.col("_m").alias("b"))
    return (
        l.join(r, "center")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
