"""Transitive clustering via connected components (BASELINE.json
north_star; no reference counterpart — the reference stops at candidate
pairs).

GraphFrames is unavailable, so this is a self-contained iterative
implementation over DataFrames: minimum-label propagation with symmetric
edges. Each iteration is one shuffle (join on node id + min-aggregate);
convergence is checked with a cheap count of changed labels, and the label
frame is ``localCheckpoint``-ed every iteration to cut the growing lineage
(the classic iterative-algorithm trap on Spark).

For ER candidate graphs, components are near-cliques of duplicates —
diameter is tiny, so the loop converges in 2-4 iterations regardless of
table size. A large-star/small-star variant is only warranted for
adversarial long-chain graphs; for this workload min-label propagation is
the cheaper plan (fewer shuffles per iteration).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str = "l_id",
    dst: str = "r_id",
    max_iter: int = 25,
    driver_threshold: int = 2_000_000,
) -> DataFrame:
    """-> DataFrame(id, component) where component = min node id reachable.

    Node ids must be orderable (string sha ids and int ids both are).

    Two physical strategies, picked by edge count — the same shape as
    Spark's own broadcast-vs-shuffle join selection:
      * small graphs (<= driver_threshold edges): collect + union-find on
        the driver. The candidate-pair graph after thresholding is orders
        of magnitude smaller than the input table (it IS the dedup signal),
        so even 100 TB inputs often land here; a driver union-find on 2M
        edges takes well under a second vs dozens of distributed shuffles.
        One bounded LIMIT probe (never more than driver_threshold + 1
        rows) both picks this path and collects its input; nothing is
        left persisted.
      * large graphs: iterative min-label propagation + pointer jumping
        (O(log diameter) rounds), one localCheckpoint per round.
    """
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).filter(
        F.col("a") != F.col("b")
    )
    sym = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b"))).dropDuplicates()
    probe = sym.limit(driver_threshold + 1).toPandas()
    if len(probe) <= driver_threshold:
        return _driver_union_find(probe, sym)

    sym = sym.localCheckpoint()
    n_edges = sym.count()

    # Size the iteration partitioning to the graph: every round shuffles the
    # label frame, and for small graphs 32 near-empty tasks per round cost
    # more than the work itself. ~100k edges per partition.
    parts = max(4, min(int(sym.sparkSession.conf.get("spark.sql.shuffle.partitions")),
                       n_edges // 100_000 + 1))
    sym = sym.repartition(parts, "a").localCheckpoint()

    labels = (
        sym.select(F.col("a").alias("id"))
        .dropDuplicates()
        .withColumn("component", F.col("id"))
        .repartition(parts, "id")
        .localCheckpoint()
    )

    # Each round: (1) min-label propagation over edges, (2) pointer jump
    # (component <- component's component). The jump halves remaining chain
    # depth every round, so convergence is O(log diameter) rounds instead of
    # O(diameter) — the difference between 5 and 30 Spark jobs on a chainy
    # graph. One localCheckpoint per round cuts the iterative-lineage blowup;
    # `changed` is derived from the checkpointed frame (no recompute).
    for _ in range(max_iter):
        neighbor_min = (
            sym.join(labels, sym["b"] == labels["id"])
            .groupBy("a")
            .agg(F.min("component").alias("nbr_component"))
        )
        propagated = (
            labels.join(neighbor_min, labels["id"] == neighbor_min["a"], "left")
            .select(
                "id",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("nbr_component"), F.col("component")),
                ).alias("component"),
            )
        )
        # true pointer jumping: chase through the freshly-propagated labels
        parent = propagated.select(
            F.col("id").alias("p_id"), F.col("component").alias("p_comp")
        )
        jumped = (
            propagated.join(parent, propagated["component"] == parent["p_id"], "left")
            .select(
                "id",
                F.least(
                    F.col("component"), F.coalesce(F.col("p_comp"), F.col("component"))
                ).alias("component"),
            )
        )
        old = labels.select("id", F.col("component").alias("old_component"))
        new_labels = (
            jumped.join(old, "id")
            .select("id", "component", "old_component")
            .localCheckpoint()
        )
        changed = new_labels.filter(
            F.col("component") < F.col("old_component")
        ).count()
        labels = new_labels.select("id", "component")
        if changed == 0:
            break
    return labels


def _driver_union_find(pdf, sym: DataFrame) -> DataFrame:
    """Small-graph fast path: classic union-find with path compression on
    the driver over ``pdf`` (the collected edges of ``sym``), result
    re-parallelized. component = min node id in set."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in zip(pdf["a"], pdf["b"]):
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by min so the root IS the min id (matches the
            # distributed algorithm's component labeling)
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    rows = [(x, find(x)) for x in parent]
    import pandas as pd

    spark = sym.sparkSession
    out_pdf = pd.DataFrame(rows, columns=["id", "component"])
    schema = sym.select(F.col("a").alias("id"), F.col("b").alias("component")).schema
    return spark.createDataFrame(out_pdf, schema=schema)


def clusters_from_candidates(
    candidates: DataFrame,
    min_sim: float | None = None,
    sim_col: str = "sim",
) -> DataFrame:
    """Threshold candidate pairs then cluster: -> (id, component)."""
    e = candidates
    if min_sim is not None:
        e = e.filter(F.col(sim_col) >= min_sim)
    return connected_components(e)


def canonical_records(
    clusters: DataFrame,
    records: DataFrame,
    id_col: str = "id",
    order_by: list | None = None,
) -> DataFrame:
    """Survivorship: one canonical record per component (the golden-record
    step after transitive clustering). ``order_by`` ranks members (e.g.
    ``[F.desc("n_chars")]`` — longest record wins); an ascending-id
    tie-break is always appended so selection is deterministic. One shuffle
    on component (both window functions share the partitioning); cluster
    size rides along as ``n_members``."""
    from pyspark.sql import Window

    rec = (
        records.withColumnRenamed(id_col, "id") if id_col != "id" else records
    )
    joined = clusters.join(rec, "id")
    order = list(order_by) if order_by else []
    order.append(F.asc("id"))
    w = Window.partitionBy("component").orderBy(*order)
    size_w = Window.partitionBy("component")
    return (
        joined.withColumn("n_members", F.count("*").over(size_w))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def clusters_to_pairs(clusters: DataFrame) -> DataFrame:
    """All undirected intra-cluster pairs (a < b) — the pairwise view used
    by the F1 metric. Join is co-partitioned on component (one shuffle).
    Singleton components emit nothing."""
    l = clusters.select(F.col("component"), F.col("id").alias("a"))
    r = clusters.select(F.col("component"), F.col("id").alias("b"))
    return (
        l.join(r, "component")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", "component")
    )


def fuse_clusters(
    clusters: DataFrame,
    records: DataFrame,
    rules: dict[str, str],
    id_col: str = "id",
) -> DataFrame:
    """Field-level survivorship: -> (component, n_members, <one column per
    rule>). Where ``canonical_records`` picks ONE member row wholesale,
    this fuses each output column independently by its own rule — the
    golden record a master-data pipeline actually publishes (different
    fields trust different sources):

      'longest'  the value with the greatest string length
                 (tie: greatest value — struct-max, fully deterministic);
      'max'/'min' plain extrema;
      'mode'     the most frequent value (tie: smallest value);
      'first'    the value of the smallest member id.

    Plan shape: one clusters><records join, then ONE groupBy(component)
    hash aggregation computes every non-mode rule via order-encoding
    struct extrema (max_by/min_by semantics with explicit deterministic
    tie-breaks — no per-rule window shuffles). Each 'mode' column adds one
    (component, value) count agg + a window argmax, joined back on
    component; modes are the only rules that fundamentally need the extra
    pass. NULL values lose to non-NULL under every rule (structs with the
    ordering key first; Spark sorts NULL first for max-structs only when
    the whole struct is NULL — value-first encodings below handle it)."""
    from pyspark.sql import Window

    known = {"longest", "max", "min", "mode", "first"}
    bad = {r for r in rules.values() if r not in known}
    if bad:
        raise ValueError(f"unknown survivorship rule(s): {sorted(bad)}")
    rec = (
        records.withColumnRenamed(id_col, "id") if id_col != "id" else records
    )
    joined = clusters.join(rec, "id")

    aggs = [F.count("*").cast("long").alias("n_members")]
    for col, rule in rules.items():
        if rule == "longest":
            aggs.append(
                F.max(F.struct(
                    F.length(col).alias("_l"), F.col(col).alias("_v")
                )).getField("_v").alias(col)
            )
        elif rule == "max":
            aggs.append(F.max(col).alias(col))
        elif rule == "min":
            aggs.append(F.min(col).alias(col))
        elif rule == "first":
            aggs.append(
                F.min(F.struct(F.col("id").alias("_i"), F.col(col).alias("_v")))
                .getField("_v").alias(col)
            )
    out = joined.groupBy("component").agg(*aggs)

    for col, rule in rules.items():
        if rule != "mode":
            continue
        counts = (
            joined.filter(F.col(col).isNotNull())
            .groupBy("component", col)
            .agg(F.count("*").alias("_c"))
        )
        w = Window.partitionBy("component").orderBy(
            F.col("_c").desc(), F.col(col).asc()
        )
        winner = (
            counts.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("component", col)
        )
        out = out.join(winner, "component", "left")
    return out


def star_clusters(
    pairs: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    sim_col: str = "sim",
    sim_scale: int = 1_000_000,
) -> DataFrame:
    """Star clustering (Aslam/Pelekhov/Rus) over a scored similarity graph
    — the standard ER alternative to connected components when transitive
    closure over-merges (CC glues two entities through ONE noisy edge; a
    star cluster is anchored to a high-degree center, so chains break).
    No reference counterpart (the reference stops at candidate pairs).

    -> DataFrame(id, center): every node of the graph appears exactly
    once; a cluster is the set of rows sharing a center.

    This is the deterministic ONE-PASS parallel variant (the classical
    formulation picks centers sequentially by descending degree, which is
    inherently serial):

      1. weighted degree  d(u) = Σ sims of u's incident edges;
      2. u is a CENTER iff it is the (degree desc, id asc) lexicographic
         maximum of its closed neighborhood — no neighbor beats it;
      3. every non-center attaches to its best center neighbor by
         (sim desc, center id asc); a non-center whose neighbors are all
         non-centers (its dominator was itself dominated elsewhere)
         becomes a singleton — the documented divergence from the
         sequential greedy, which would have attached it in a later turn.

    Degrees and tie-breaks drive cluster membership, so they must be
    bit-stable across aggregation orders: sims are scaled by ``sim_scale``
    and SUMMED AS INTEGERS (float partial-agg order differs between runs
    and engines; integer sums do not). Plan: two hash aggs + two
    shuffle joins + one window — no iteration, no driver state, every
    stage key-partitioned (scales like the meta-blocking operators).
    """
    from pyspark.sql import Window

    e = pairs.select(
        F.col(a_col).alias("u"),
        F.col(b_col).alias("v"),
        F.round(F.col(sim_col) * sim_scale, 0).cast("long").alias("s"),
    )
    # symmetrize; keep-max dedups a pair fed in both orientations
    sym = (
        e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"), "s")
        )
        .groupBy("u", "v")
        .agg(F.max("s").alias("s"))
    )
    deg = sym.groupBy("u").agg(F.sum("s").alias("deg_u"))
    nb = sym.join(deg, "u").join(
        deg.select(F.col("u").alias("v"), F.col("deg_u").alias("deg_v")),
        "v",
    )
    beaten = F.max(
        F.when(
            (F.col("deg_v") > F.col("deg_u"))
            | ((F.col("deg_v") == F.col("deg_u")) & (F.col("v") < F.col("u"))),
            1,
        ).otherwise(0)
    ).alias("beaten")
    flags = nb.groupBy("u").agg(beaten)
    centers = flags.filter(F.col("beaten") == 0).select("u")
    noncenters = flags.filter(F.col("beaten") == 1).select("u")

    # best center neighbor per non-center; orphans fall through to selves
    cand = (
        sym.join(noncenters, "u")
        .join(centers.withColumnRenamed("u", "v"), "v")
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("u").orderBy(F.desc("s"), F.asc("v"))
            ),
        )
        .filter(F.col("_rn") == 1)
        .select("u", F.col("v").alias("center"))
    )
    orphans = noncenters.join(cand.select("u"), "u", "left_anti")
    return (
        centers.select(F.col("u").alias("id"), F.col("u").alias("center"))
        .unionByName(cand.select(F.col("u").alias("id"), "center"))
        .unionByName(
            orphans.select(F.col("u").alias("id"), F.col("u").alias("center"))
        )
    )


def group_linkage(
    left: DataFrame,
    right: DataFrame,
    id_col: str = "id",
    left_cluster: str = "component",
    right_cluster: str = "component",
    min_jaccard: float = 0.0,
) -> DataFrame:
    """Group linkage (On et al., ICDE'07 shape): align the CLUSTERS of two
    clusterings over a shared id universe by member overlap — for each
    (left cluster, right cluster) pair with at least one common member,
    the Jaccard of their member sets. This is the cluster-to-cluster join
    an incremental ER pipeline runs to map a fresh batch's clusters onto
    the existing resolved entities (and the per-cluster-pair view whose
    global reduction is ``metrics.clustering_eval``). No reference
    counterpart — the reference stops at candidate pairs.

    -> DataFrame(l_cluster, r_cluster, l_size, r_size, n_common, jaccard),
    jaccard = n_common / (l_size + r_size - n_common), rounded to 9,
    filtered to >= ``min_jaccard``.

    Scale shape: ONE row-scale shuffle (the equi-join on id), one hash agg
    to the overlap table, then joins on cluster keys against the two
    cluster-size aggregates — ≤ #clusters rows each, AQE broadcasts them.
    No collect, no UDF, no cross product: cluster pairs with zero common
    members never materialize.
    """
    l = left.select(F.col(id_col).alias("_id"), F.col(left_cluster).alias("l_cluster"))
    r = right.select(F.col(id_col).alias("_id"), F.col(right_cluster).alias("r_cluster"))
    inter = (
        l.join(r, "_id")
        .groupBy("l_cluster", "r_cluster")
        .agg(F.count("*").cast("long").alias("n_common"))
    )
    lsz = l.groupBy("l_cluster").agg(F.count("*").cast("long").alias("l_size"))
    rsz = r.groupBy("r_cluster").agg(F.count("*").cast("long").alias("r_size"))
    out = (
        inter.join(lsz, "l_cluster")
        .join(rsz, "r_cluster")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.col("l_size") + F.col("r_size") - F.col("n_common")),
                9,
            ),
        )
        .select("l_cluster", "r_cluster", "l_size", "r_size", "n_common", "jaccard")
    )
    if min_jaccard > 0.0:
        out = out.filter(F.col("jaccard") >= min_jaccard)
    return out
