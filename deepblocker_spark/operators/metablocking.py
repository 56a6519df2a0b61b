"""Meta-blocking: block filtering + comparison weighting + weighted-edge
pruning over a block collection (Papadakis et al., "Meta-Blocking: Taking
Entity Resolution to the Next Level", TKDE 2014; block filtering from
Papadakis et al., VLDB 2016).

No reference counterpart: qcri/DeepBlocker emits its candidate set straight
from the vector top-K (its blocking_utils.py:8 scores raw candidates only).
At 100 TB the classic complement is schema-agnostic token blocking, whose
redundancy meta-blocking turns into a SIGNAL: a pair sharing many (rare)
blocks is likelier a match than one sharing a single hot block. The
pipeline here:

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
                      weighted-edge pruning (WEP: keep weight >= mean), or
                      node pruning (CNP / WNP).

ONE driver (``_meta_blocking``) runs every call over a list of block
collections: one for the dirty (self) collection, two — left, right — for
the clean-clean (dyadic) shape. Every row is tagged with its side, so an
entity is the node key (side, id): ids may collide across tables, and in
self mode every row and both directions of every edge sit on side 0, so
the (side, id) groups are the plain id groups. The steps, each written
once:

  1. filtering (``_filter_blocks``) — one block-size hash aggregate over
     all sides joined back on the key, one per-entity window keyed by
     (side, id); ``block_filtering`` is this step alone;
  2. the ``max_block_rows`` purge — ``dedup._drop_hot``'s broadcast
     anti-join of the keys with more filtered postings than the cap,
     counted over all sides;
  3. the shared-key count — ``dedup._shared_counts`` over the block key
     (a < b in self mode; left id a, right id b in dyadic mode) gives each
     pair's common-block count ``cbs``;
  4. one weight expression per scheme, then one WEP tail (a global mean)
     or one CNP/WNP tail over the directed edges keyed by (side, id).

Everything is plain DataFrame ops — hash aggregations, one equi-join on
the block key, two shuffle joins on entity id, and 1-row broadcast scalars
(block total, mean weight) via crossJoin so no driver action sits in the
plan. Scale notes:

  * The equi-join on block_key is bounded by ``max_block_rows`` (the purge
    step): blocks bigger than the cap are EXCLUDED from pair generation,
    never silently — the excluded keys are exactly the filtered
    collection's keys with more rows than the cap. Block filtering
    additionally shrinks hot blocks before the join (each entity leaves
    its hottest blocks first).
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

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from deepblocker_spark.functions.tokenizer import tokens_col
from deepblocker_spark.operators.bc_registry import tracked_persist
from deepblocker_spark.operators.dedup import _drop_hot, _shared_counts

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


def _filter_blocks(
    sides: list[DataFrame], ratio: float, id_col: str, key_col: str
) -> DataFrame:
    """-> (_side, id, block_key, block_size): each side's rows tagged with
    the side's index, block sizes counted over ALL sides (a block hot on
    either side is uninformative for both), and each (side, id) entity
    kept in its ``ceil(ratio * |B_e|)`` smallest blocks."""
    tagged = reduce(DataFrame.unionByName, [
        b.select(F.lit(s).alias("_side"), F.col(id_col).alias("id"),
                 F.col(key_col).alias("block_key"))
        for s, b in enumerate(sides)
    ])
    sizes = tagged.groupBy("block_key").agg(F.count("*").alias("block_size"))
    ent = Window.partitionBy("_side", "id")
    return (
        tagged.join(sizes, "block_key")
        .withColumn("_rn", F.row_number().over(ent.orderBy("block_size", "block_key")))
        .withColumn("_nb", F.count("*").over(ent))
        .filter(F.col("_rn") <= F.ceil(F.lit(float(ratio)) * F.col("_nb")))
        .select("_side", "id", "block_key", "block_size")
    )


def block_filtering(
    blocks: DataFrame,
    ratio: float = 0.5,
    id_col: str = "id",
    key_col: str = "block_key",
) -> DataFrame:
    """Keep each entity only in the ``ceil(ratio * |B_e|)`` smallest of its
    blocks (size tie-broken by key, ascending — deterministic). -> (id,
    block_key, block_size). One hash aggregate on the key joined back,
    then one per-entity window.

    ``ratio`` is applied as an IEEE double multiply then ceil — use
    binary-exact ratios (0.5, 0.75) when cross-engine determinism on the
    exact kept-count matters (the oracle applies the identical arithmetic).

    Block sizes come from a hash aggregation joined back on the key — NOT a
    ``count(*) over (partition by key)`` window: at scale a hot token would
    pin its entire block in one window task, while the agg gets map-side
    partial combine and the join gets AQE skew splitting. The per-entity
    window is safe — an entity's block count is bounded by its token
    count.
    """
    return _filter_blocks([blocks], ratio, id_col, key_col).select(
        "id", "block_key", "block_size"
    )


def _meta_blocking(
    sides: list[DataFrame],
    ratio: float,
    scheme: str,
    prune: str,
    max_block_rows: int | None,
    id_col: str,
    key_col: str,
    cnp_k: int,
) -> DataFrame:
    """-> (a, b, cbs, weight) over one (self) or two (dyadic) block
    collections; ``a`` comes from the first side, ``b`` from the last."""
    if scheme not in SCHEMES:
        raise ValueError(f"unknown weighting scheme: {scheme!r} (use {SCHEMES})")
    if prune not in ("WEP", "CNP", "WNP", "none"):
        raise ValueError(
            f"unknown prune mode: {prune!r} (use 'WEP', 'CNP', 'WNP' or 'none')"
        )
    last = len(sides) - 1
    filtered = tracked_persist(
        _filter_blocks(sides, ratio, id_col, key_col), StorageLevel.MEMORY_AND_DISK
    )
    if max_block_rows is not None:
        (filtered,) = _drop_hot("block_key", max_block_rows, filtered)
    ent = filtered.groupBy("_side", "id").agg(F.count("*").cast("long").alias("_nb"))
    total = filtered.agg(
        F.count_distinct("block_key").cast("double").alias("_total")
    )

    def side(frame: DataFrame, s: int, *cols) -> DataFrame:
        return frame.filter(F.col("_side") == s).select(*cols)

    co = _shared_counts(
        side(filtered, 0, F.col("id").alias("a"), "block_key"),
        side(filtered, last, F.col("id").alias("b"), "block_key"),
        "block_key", "cbs", self_mode=last == 0,
    )
    pairs = (
        co.join(side(ent, 0, F.col("id").alias("a"), F.col("_nb").alias("_na")), "a")
        .join(side(ent, last, F.col("id").alias("b"), F.col("_nb").alias("_nbb")), "b")
        .crossJoin(F.broadcast(total))
    )
    cbs, na, nb, tot = (F.col(c) for c in ("cbs", "_na", "_nbb", "_total"))
    weight = {
        "CBS": cbs.cast("double"),
        "ECBS": cbs * F.log(tot / na) * F.log(tot / nb),
        "JS": cbs / (na + nb - cbs),
    }[scheme]
    weighted = pairs.select("a", "b", "cbs", F.round(weight, 9).alias("weight"))
    if prune == "none":
        return weighted
    weighted = tracked_persist(weighted, StorageLevel.MEMORY_AND_DISK)
    if prune == "WEP":
        mean = weighted.agg(F.avg("weight").alias("_mean"))
        return weighted.crossJoin(F.broadcast(mean)).filter(
            F.col("weight") >= F.col("_mean") - F.lit(1e-9)
        ).select("a", "b", "cbs", "weight")
    # each undirected edge once per endpoint, keyed by the endpoint's node
    # (side, id); an edge survives if EITHER endpoint keeps it. CNP ranks a
    # node's edges by (weight desc, neighbor asc) and keeps cnp_k — output
    # bounded by cnp_k * n_entities; WNP keeps the edges clearing the
    # node's mean weight (a grouped mean joined back, same 1e-9 guard)
    node = ["_ns", "_node"]
    directed = weighted.select(
        F.lit(0).alias("_ns"), F.col("a").alias("_node"),
        F.col("b").alias("_nbr"), "a", "b", "cbs", "weight",
    ).unionByName(
        weighted.select(
            F.lit(last).alias("_ns"), F.col("b").alias("_node"),
            F.col("a").alias("_nbr"), "a", "b", "cbs", "weight",
        )
    )
    if prune == "CNP":
        w_node = Window.partitionBy(*node).orderBy(
            F.col("weight").desc(), F.col("_nbr").asc()
        )
        kept = directed.withColumn("_rn", F.row_number().over(w_node)).filter(
            F.col("_rn") <= cnp_k
        )
    else:
        node_mean = directed.groupBy(*node).agg(F.avg("weight").alias("_mean"))
        kept = directed.join(node_mean, node).filter(
            F.col("weight") >= F.col("_mean") - F.lit(1e-9)
        )
    return kept.select("a", "b", "cbs", "weight").dropDuplicates(["a", "b"])


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
    pair generation (bounding the equi-join's per-key cross product at
    scale); like ``dedup.key_blocking_pairs`` the cap is auditable — the
    excluded groups are exactly ``block_filtering(...).groupBy(key) having
    count > cap``, recomputable from the same inputs. |B| and |B_e| are
    counted after the purge.
    """
    return _meta_blocking(
        [blocks], ratio, scheme, prune, max_block_rows, id_col, key_col, cnp_k
    )


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
    shape (its deep_blocker.py:48: block_datasets(left, right)) applied to
    token blocking. -> (a, b, cbs, weight) where ``a`` is ALWAYS a
    left-table id and ``b`` a right-table id; only cross-table
    co-occurrence is weighted or pruned (intra-table redundancy still
    counts toward block sizes and entity block counts, as in the
    dirty-collection formulation).

    Definitions (documented choices, mirrored by the oracle): block sizes
    for filtering and the ``max_block_rows`` purge are counted over the
    UNION of both tables (a block hot on either side is uninformative for
    both); |B| is the distinct filtered key count over the union; |B_e| is
    per entity within its own table. Ids may collide across tables — every
    internal step carries the side, and the output pair key is (left id,
    right id), not a < b.

    Same driver as ``meta_blocking_pairs``: the only wide operations are
    the block-size agg, the per-entity filtering window, the cross-side
    join on the block key, and (for CNP/WNP) one node-keyed exchange where
    the node key is (side, id)."""
    return _meta_blocking(
        [l_blocks, r_blocks], ratio, scheme, prune, max_block_rows, id_col,
        key_col, cnp_k,
    )


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
    order = [F.desc(score_col), F.asc(a_col), F.asc(b_col)]
    top = (
        scored.select(a_col, b_col, score_col)
        .orderBy(*order)
        .limit(int(budget))
    )
    return top.withColumn(
        "rank", F.row_number().over(Window.orderBy(*order))
    )
