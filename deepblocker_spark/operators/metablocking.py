"""Meta-blocking: block filtering + comparison weighting + weighted-edge
pruning over a block collection (Papadakis et al., "Meta-Blocking: Taking
Entity Resolution to the Next Level", TKDE 2014; block filtering from
Papadakis et al., VLDB 2016).

No reference counterpart: qcri/DeepBlocker emits its candidate set straight
from the vector top-K (/root/reference/blocking_utils.py:8 scores raw
candidates only). At 100 TB the classic complement is schema-agnostic token
blocking, whose redundancy meta-blocking turns into a SIGNAL: a pair sharing
many (rare) blocks is likelier a match than one sharing a single hot block.
The pipeline here:

  token_blocks        entity x distinct-token block assignments (the
                      standard schema-agnostic blocker; reuses the engine's
                      parity-locked tokenizer so the DuckDB oracle can
                      rebuild the identical collection);
  block_filtering     keep each entity only in the ceil(ratio * |B_e|)
                      SMALLEST of its blocks — drops each entity from its
                      least-informative (hottest) blocks without dropping
                      any block outright;
  meta_blocking_pairs co-occurrence pairs weighted by CBS (common-block
                      count), ECBS (CBS idf-scaled by both entities' block
                      counts) or JS (Jaccard over block sets), then
                      weighted-edge pruning (WEP: keep weight >= mean).

Everything is plain DataFrame ops — two hash aggregations, one
co-partitioned self-join on the block key, two shuffle joins on entity id,
and 1-row broadcast scalars (block total, mean weight) via crossJoin so no
driver action sits in the plan. Scale notes:

  * The self-join on block_key is bounded by ``max_block_rows`` (the purge
    step): blocks bigger than the cap are EXCLUDED from pair generation and
    listed by :func:`dedup.purged_blocks`-style audit via ``ratio``/cap
    accounting — never silently. Block filtering additionally shrinks hot
    blocks before the join (each entity leaves its hottest blocks first).
  * Weights are rounded to 9 decimals on BOTH engines; the WEP threshold
    compares against mean - 1e-9 so a summation-order ulp in the mean can
    never flip a boundary pair between Spark and the oracle.
  * The filtered collection (5 consumers) and the weighted pair set (2
    pruning-pass consumers) are ``.persist()``-ed — Spark shares no common
    subtrees across DataFrame reuse, so without the caches the blocking +
    filtering work would rerun once per consumer. Release via
    ``bc_registry.release_tracked()`` after the consuming action.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from deepblocker_spark.functions.tokenizer import tokens_col
from deepblocker_spark.operators.bc_registry import tracked_persist

SCHEMES = ("CBS", "ECBS", "JS")


def token_blocks(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Schema-agnostic token blocking: one (id, block_key) row per DISTINCT
    token of the entity's text. JVM tokenize -> array_distinct -> explode;
    no Python in the path."""
    return df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(tokens_col(text_col))).alias("block_key"),
    )


def block_filtering(
    blocks: DataFrame,
    ratio: float = 0.5,
    id_col: str = "id",
    key_col: str = "block_key",
) -> DataFrame:
    """Keep each entity only in the ``ceil(ratio * |B_e|)`` smallest of its
    blocks (size tie-broken by key, ascending — deterministic). -> (id,
    block_key, block_size). Two window shuffles (key, then id); no joins.

    ``ratio`` is applied as an IEEE double multiply then ceil — use
    binary-exact ratios (0.5, 0.75) when cross-engine determinism on the
    exact kept-count matters (the oracle applies the identical arithmetic).

    Block sizes come from a hash aggregation joined back on the key — NOT a
    ``count(*) over (partition by key)`` window: at scale a hot token would
    pin its entire block in one window task, while the agg gets map-side
    partial combine and the join gets AQE skew splitting. The per-entity
    window below is safe — an entity's block count is bounded by its token
    count.
    """
    w_ent = Window.partitionBy("id").orderBy(
        F.col("block_size").asc(), F.col("block_key").asc()
    )
    w_ent_all = Window.partitionBy("id")
    sizes = blocks.groupBy(key_col).agg(F.count("*").alias("block_size"))
    sized = blocks.join(sizes, key_col).select(
        F.col(id_col).alias("id"),
        F.col(key_col).alias("block_key"),
        "block_size",
    )
    return (
        sized.withColumn("_rn", F.row_number().over(w_ent))
        .withColumn("_nb", F.count("*").over(w_ent_all))
        .filter(F.col("_rn") <= F.ceil(F.lit(float(ratio)) * F.col("_nb")))
        .select("id", "block_key", "block_size")
    )


def meta_blocking_pairs(
    blocks: DataFrame,
    ratio: float = 0.5,
    scheme: str = "ECBS",
    prune: str = "WEP",
    max_block_rows: int | None = None,
    id_col: str = "id",
    key_col: str = "block_key",
    cnp_k: int = 10,
) -> DataFrame:
    """-> (a, b, cbs, weight): undirected co-occurrence pairs (a < b) of the
    block-filtered collection, weighted per ``scheme``, pruned per ``prune``:

      'WEP'  weighted-edge pruning — keep weight >= mean - 1e-9 (global
             threshold; output size data-dependent);
      'CNP'  cardinality node pruning — keep an edge iff it ranks in the
             top-``cnp_k`` by weight (tie: neighbor id asc) of EITHER
             endpoint (the redefined/union CNP variant). Output is bounded
             by ``cnp_k * n_entities`` regardless of skew — the pruning to
             reach for at 100 TB;
      'WNP'  weighted node pruning — keep an edge iff its weight clears
             the MEAN weight of EITHER endpoint's edges (redefined/union
             WNP; same ``- 1e-9`` epsilon guard as WEP so a
             summation-order ulp cannot flip a boundary pair). Local
             thresholds adapt to each node's neighborhood where WEP's
             single global mean over- or under-prunes skewed regions;
      'none' keep all.

    ECBS(a,b) = CBS * ln(|B|/|B_a|) * ln(|B|/|B_b|) with |B| the filtered
    collection's distinct-block count and |B_e| the entity's filtered block
    count — rare shared blocks count for more. JS(a,b) = CBS /
    (|B_a| + |B_b| - CBS). Weights rounded to 9 decimals (cross-engine
    float discipline, see module doc).

    ``max_block_rows`` purges blocks still oversized AFTER filtering from
    pair generation (bounding the self-join's per-key cross product at
    scale); like ``dedup.key_blocking_pairs`` the cap is auditable — the
    excluded groups are exactly ``block_filtering(...).groupBy(key) having
    count > cap``, recomputable from the same inputs.
    """
    if scheme not in SCHEMES:
        raise ValueError(f"unknown weighting scheme: {scheme!r} (use {SCHEMES})")
    if prune not in ("WEP", "CNP", "WNP", "none"):
        raise ValueError(
            f"unknown prune mode: {prune!r} (use 'WEP', 'CNP', 'WNP' or 'none')"
        )
    filtered = tracked_persist(
        block_filtering(blocks, ratio, id_col, key_col), StorageLevel.MEMORY_AND_DISK
    )
    if max_block_rows is not None:
        kept_sizes = (
            filtered.groupBy("block_key")
            .agg(F.count("*").alias("_fsize"))
            .filter(F.col("_fsize") <= max_block_rows)
            .select("block_key")
        )
        filtered = filtered.join(kept_sizes, "block_key")
    ent = filtered.groupBy("id").agg(F.count("*").cast("long").alias("_nb"))
    total = filtered.agg(
        F.count_distinct("block_key").cast("double").alias("_total")
    )
    l = filtered.select(F.col("id").alias("a"), "block_key")
    r = filtered.select(F.col("id").alias("b"), "block_key")
    co = (
        l.join(r, "block_key")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").cast("long").alias("cbs"))
    )
    pairs = (
        co.join(ent.select(F.col("id").alias("a"), F.col("_nb").alias("_na")), "a")
        .join(ent.select(F.col("id").alias("b"), F.col("_nb").alias("_nbb")), "b")
        .crossJoin(F.broadcast(total))
    )
    if scheme == "CBS":
        weight = F.col("cbs").cast("double")
    elif scheme == "ECBS":
        weight = (
            F.col("cbs")
            * F.log(F.col("_total") / F.col("_na"))
            * F.log(F.col("_total") / F.col("_nbb"))
        )
    else:  # JS
        weight = F.col("cbs") / (F.col("_na") + F.col("_nbb") - F.col("cbs"))
    weighted = pairs.select(
        "a", "b", "cbs", F.round(weight, 9).alias("weight")
    )
    if prune == "none":
        return weighted
    weighted = tracked_persist(weighted, StorageLevel.MEMORY_AND_DISK)
    if prune == "CNP":
        # undirected edge -> both directions; rank per node by (weight desc,
        # neighbor asc); an edge survives if either endpoint ranks it — one
        # shuffle on node id, output bounded by cnp_k * n_entities
        directed = weighted.select(
            F.col("a").alias("_node"), F.col("b").alias("_nbr"), "a", "b", "cbs", "weight"
        ).unionByName(
            weighted.select(
                F.col("b").alias("_node"), F.col("a").alias("_nbr"), "a", "b", "cbs", "weight"
            )
        )
        w_node = Window.partitionBy("_node").orderBy(
            F.col("weight").desc(), F.col("_nbr").asc()
        )
        return (
            directed.withColumn("_rn", F.row_number().over(w_node))
            .filter(F.col("_rn") <= cnp_k)
            .select("a", "b", "cbs", "weight")
            .dropDuplicates(["a", "b"])
        )
    if prune == "WNP":
        # per-node mean weight instead of CNP's per-node rank: one
        # groupBy on node id for the thresholds, then the directed view
        # filters against its own node's mean — an edge survives if it
        # clears EITHER endpoint's local mean. Same shuffle count as
        # CNP (node-keyed exchange), output data-dependent like WEP.
        directed = weighted.select(
            F.col("a").alias("_node"), "a", "b", "cbs", "weight"
        ).unionByName(
            weighted.select(F.col("b").alias("_node"), "a", "b", "cbs", "weight")
        )
        node_mean = directed.groupBy("_node").agg(F.avg("weight").alias("_mean"))
        return (
            directed.join(node_mean, "_node")
            .filter(F.col("weight") >= F.col("_mean") - F.lit(1e-9))
            .select("a", "b", "cbs", "weight")
            .dropDuplicates(["a", "b"])
        )
    mean = weighted.agg(F.avg("weight").alias("_mean"))
    return weighted.crossJoin(F.broadcast(mean)).filter(
        F.col("weight") >= F.col("_mean") - F.lit(1e-9)
    ).select("a", "b", "cbs", "weight")


def meta_blocking_pairs_dyadic(
    l_blocks: DataFrame,
    r_blocks: DataFrame,
    ratio: float = 0.5,
    scheme: str = "ECBS",
    prune: str = "WEP",
    max_block_rows: int | None = None,
    id_col: str = "id",
    key_col: str = "block_key",
    cnp_k: int = 10,
) -> DataFrame:
    """Clean-clean (two-table) meta-blocking — the reference's primary call
    shape (`/root/reference/deep_blocker.py:48`: block_datasets(left,
    right)) applied to token blocking. -> (a, b, cbs, weight) where ``a``
    is ALWAYS a left-table id and ``b`` a right-table id; only cross-table
    co-occurrence is weighted or pruned (intra-table redundancy still
    counts toward block sizes and entity block counts, as in the
    dirty-collection formulation).

    Definitions (documented choices, mirrored by the oracle): block sizes
    for filtering are counted over the UNION of both tables (a block hot on
    either side is uninformative for both); |B| is the distinct filtered
    key count over the union; |B_e| is per entity within its own table.
    Ids may collide across tables — every internal step carries a side
    marker, and the output pair key is (left id, right id), not a < b.

    Same plan shape as the self-join variant: the only wide operations are
    the block-size agg, the per-entity filtering window, the cross-side
    join on the block key, and (for CNP/WNP) one node-keyed exchange where
    the node key is (side, id)."""
    if scheme not in SCHEMES:
        raise ValueError(f"unknown weighting scheme: {scheme!r} (use {SCHEMES})")
    if prune not in ("WEP", "CNP", "WNP", "none"):
        raise ValueError(
            f"unknown prune mode: {prune!r} (use 'WEP', 'CNP', 'WNP' or 'none')"
        )
    both = l_blocks.select(
        F.col(id_col).alias("id"), F.col(key_col).alias("block_key"),
        F.lit(0).alias("_side"),
    ).unionByName(
        r_blocks.select(
            F.col(id_col).alias("id"), F.col(key_col).alias("block_key"),
            F.lit(1).alias("_side"),
        )
    )
    # block filtering over the union; the per-entity window partitions by
    # (side, id) so colliding ids across tables stay distinct entities
    w_ent = Window.partitionBy("_side", "id").orderBy(
        F.col("block_size").asc(), F.col("block_key").asc()
    )
    w_ent_all = Window.partitionBy("_side", "id")
    sizes = both.groupBy("block_key").agg(F.count("*").alias("block_size"))
    filtered = tracked_persist(
        both.join(sizes, "block_key")
        .withColumn("_rn", F.row_number().over(w_ent))
        .withColumn("_nb", F.count("*").over(w_ent_all))
        .filter(F.col("_rn") <= F.ceil(F.lit(float(ratio)) * F.col("_nb")))
        .select("id", "block_key", "_side"),
        StorageLevel.MEMORY_AND_DISK,
    )
    if max_block_rows is not None:
        kept = (
            filtered.groupBy("block_key")
            .agg(F.count("*").alias("_fsize"))
            .filter(F.col("_fsize") <= max_block_rows)
            .select("block_key")
        )
        filtered = filtered.join(kept, "block_key")
    ent = filtered.groupBy("_side", "id").agg(
        F.count("*").cast("long").alias("_nb")
    )
    total = filtered.agg(
        F.count_distinct("block_key").cast("double").alias("_total")
    )
    l = filtered.filter(F.col("_side") == 0).select(
        F.col("id").alias("a"), "block_key"
    )
    r = filtered.filter(F.col("_side") == 1).select(
        F.col("id").alias("b"), "block_key"
    )
    co = (
        l.join(r, "block_key")
        .groupBy("a", "b")
        .agg(F.count("*").cast("long").alias("cbs"))
    )
    pairs = (
        co.join(
            ent.filter(F.col("_side") == 0)
            .select(F.col("id").alias("a"), F.col("_nb").alias("_na")),
            "a",
        )
        .join(
            ent.filter(F.col("_side") == 1)
            .select(F.col("id").alias("b"), F.col("_nb").alias("_nbb")),
            "b",
        )
        .crossJoin(F.broadcast(total))
    )
    if scheme == "CBS":
        weight = F.col("cbs").cast("double")
    elif scheme == "ECBS":
        weight = (
            F.col("cbs")
            * F.log(F.col("_total") / F.col("_na"))
            * F.log(F.col("_total") / F.col("_nbb"))
        )
    else:  # JS
        weight = F.col("cbs") / (F.col("_na") + F.col("_nbb") - F.col("cbs"))
    weighted = pairs.select("a", "b", "cbs", F.round(weight, 9).alias("weight"))
    if prune == "none":
        return weighted
    weighted = tracked_persist(weighted, StorageLevel.MEMORY_AND_DISK)
    if prune in ("CNP", "WNP"):
        # bipartite directed view: left nodes rank/average their right
        # neighbors and vice versa; node key is (side, id)
        directed = weighted.select(
            F.lit(0).alias("_ns"), F.col("a").alias("_node"),
            F.col("b").alias("_nbr"), "a", "b", "cbs", "weight",
        ).unionByName(
            weighted.select(
                F.lit(1).alias("_ns"), F.col("b").alias("_node"),
                F.col("a").alias("_nbr"), "a", "b", "cbs", "weight",
            )
        )
        if prune == "CNP":
            w_node = Window.partitionBy("_ns", "_node").orderBy(
                F.col("weight").desc(), F.col("_nbr").asc()
            )
            return (
                directed.withColumn("_rn", F.row_number().over(w_node))
                .filter(F.col("_rn") <= cnp_k)
                .select("a", "b", "cbs", "weight")
                .dropDuplicates(["a", "b"])
            )
        node_mean = directed.groupBy("_ns", "_node").agg(
            F.avg("weight").alias("_mean")
        )
        return (
            directed.join(node_mean, ["_ns", "_node"])
            .filter(F.col("weight") >= F.col("_mean") - F.lit(1e-9))
            .select("a", "b", "cbs", "weight")
            .dropDuplicates(["a", "b"])
        )
    mean = weighted.agg(F.avg("weight").alias("_mean"))
    return weighted.crossJoin(F.broadcast(mean)).filter(
        F.col("weight") >= F.col("_mean") - F.lit(1e-9)
    ).select("a", "b", "cbs", "weight")


def progressive_pairs(
    scored: DataFrame,
    budget: int,
    score_col: str = "weight",
    a_col: str = "a",
    b_col: str = "b",
) -> DataFrame:
    """Progressive ER (Whang et al. ICDE'13 / Papenbrock's progressive
    blocking): emit candidate pairs BEST-FIRST under a comparison budget,
    so a pipeline that is stopped early has always matched the most
    promising pairs first. Applied to any scored pair set (meta-blocking
    weights, LSH jaccards, cosine scores).

    -> DataFrame(a_col, b_col, score_col, rank), the ``budget``
    highest-scored pairs, rank 1..budget by (score desc, a asc, b asc) —
    the deterministic total order makes the boundary tie-break, and
    therefore the emitted SET, engine-independent (full value oracle).

    Plan shape: orderBy+limit compiles to TakeOrderedAndProject — a
    bounded per-partition heap + one driver merge of ≤budget rows per
    partition, NOT a global sort-shuffle. The rank window then runs over
    the ≤budget-row result (single partition by construction — bounded by
    the budget, which is the operator's contract, so not a scale hazard).
    """
    from pyspark.sql import Window

    order = [F.desc(score_col), F.asc(a_col), F.asc(b_col)]
    top = (
        scored.select(a_col, b_col, score_col)
        .orderBy(*order)
        .limit(int(budget))
    )
    return top.withColumn(
        "rank", F.row_number().over(Window.orderBy(*order))
    )
