"""Per-stage checkpointing with lineage manifests (BASELINE.json north_rule:
"checkpoints embeddings and candidate-pair tables per partition with lineage
+ metrics so any stage is resumable").

Each stage writes parquet + a manifest JSON:
  {stage, rows, n_partitions, schema, key_cols, content_fingerprint,
   wall_seconds, written_at_ns, parents: [...]}

``content_fingerprint`` is an order-insensitive aggregate over the stage's
key columns (xor-style fold of per-row xxhash64), so resume integrity can be
checked without re-reading the full data in sorted order. On resume,
``stage()`` returns the checkpointed DataFrame when a complete manifest
exists — the upstream lineage is simply never computed (lazy evaluation does
the skipping for free).

At 100 TB these checkpoints are the unit of operational recovery: a failed
stage restarts from the last manifest instead of re-running the pipeline,
and per-stage row counts + fingerprints give the lineage audit the
north_rule asks for. Writes are atomic via _SUCCESS-gated manifest commit
(manifest written only after the parquet job completes).
"""

from __future__ import annotations

import hashlib
import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST_NAME = "manifest.json"
HASH_DIR_BYTES = 1 << 30
MAX_HASH_DIRS = 32


def params_hash(params: dict) -> str:
    """Stable hash of a stage's parameters for resume keying (ADVICE r1:
    resume must be keyed on (name, params), not name alone — otherwise
    re-running with changed k/min_sim/config silently returns stale data)."""
    return hashlib.sha256(
        json.dumps(params, sort_keys=True, default=str).encode()
    ).hexdigest()[:16]


def content_fingerprint(df: DataFrame, key_cols: list[str]) -> int:
    """Order-insensitive content hash: sum of per-row xxhash64 over key cols
    in int64 ring arithmetic (commutative -> partition-order independent)."""
    h = df.select(F.xxhash64(*[F.col(c) for c in key_cols]).alias("h"))
    # decimal(38,0) accumulator: int64 sum overflows under ANSI mode
    row = h.agg(
        F.sum(F.col("h").cast("decimal(38,0)")).alias("s"),
        F.count("*").alias("n"),
    ).collect()[0]
    return int((int(row["s"] or 0)) % (2**63)) ^ int(row["n"])


def hash_dirs_for(size_bytes: int) -> int:
    """Hash-directory count for an input of ``size_bytes``: one per started
    GiB, at least 1 and at most MAX_HASH_DIRS. An input Spark cannot size
    (its estimate is Long.MaxValue) gets the cap."""
    return max(1, min(MAX_HASH_DIRS, -(-size_bytes // HASH_DIR_BYTES)))


def hash_layout_width(source: DataFrame, override: int | None = None) -> int:
    """Width ``n`` of the pipeline's hash-directory layout: ``override``
    when set, else sized by ``hash_dirs_for`` from the optimizer's size
    estimate of ``source`` (the file bytes of a parquet scan). Reading the
    estimate plans the query but launches no Spark job."""
    if override is not None:
        if override < 1:
            raise ValueError(
                f"ckpt_hash_partitions must be None or >= 1, got {override}")
        return override
    size = source._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    return hash_dirs_for(int(size))


def partition_stats(df: DataFrame, key_cols: list[str], part_col: str | None = None):
    """Per-partition lineage metrics in ONE aggregation job (north_rule:
    "checkpoints ... per partition with lineage + metrics"): for each
    partition of the checkpoint, its row count and order-insensitive
    fingerprint; plus the global (rows, fingerprint) derived from the same
    pass — the global fingerprint is bit-identical to content_fingerprint().

    ``part_col`` (set when the stage has a hash-dir layout) keys the stats
    on the DURABLE partition column — those entries are stable across
    re-reads, so a single partition can be re-verified after a partial
    resume (``CheckpointManager.verify(name, part=k)`` prunes to one
    directory). Without a layout the stats fall back to read-partition ids,
    which are lineage metrics only (read partitioning can legally change
    with scan configuration); resume integrity is always gated on the
    global values."""
    pid = F.col(part_col) if part_col else F.spark_partition_id()
    h = df.select(
        pid.alias("pid"),
        F.xxhash64(*[F.col(c) for c in key_cols]).alias("h"),
    )
    # at most one row per partition: sorting on the driver saves the
    # range-partitioning jobs of an orderBy
    rows = sorted(
        h.groupBy("pid")
        .agg(
            F.sum(F.col("h").cast("decimal(38,0)")).alias("s"),
            F.count("*").alias("n"),
        )
        .collect(),
        key=lambda r: r["pid"],
    )
    parts = [
        {
            "pid": int(r["pid"]),
            "rows": int(r["n"]),
            "fingerprint": int(int(r["s"] or 0) % (2**63)) ^ int(r["n"]),
        }
        for r in rows
    ]
    total_s = sum(int(r["s"] or 0) for r in rows)
    total_n = sum(int(r["n"]) for r in rows)
    return parts, int(total_s % (2**63)) ^ total_n, total_n


class CheckpointManager:
    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.base_dir = base_dir
        os.makedirs(base_dir, exist_ok=True)

    def _paths(self, name: str) -> tuple[str, str]:
        stage_dir = os.path.join(self.base_dir, name)
        return os.path.join(stage_dir, "data.parquet"), os.path.join(
            stage_dir, MANIFEST_NAME
        )

    def manifest(self, name: str) -> dict | None:
        _, mpath = self._paths(name)
        if not os.path.exists(mpath):
            return None
        with open(mpath) as f:
            return json.load(f)

    def is_complete(self, name: str) -> bool:
        return self.manifest(name) is not None

    def _chain_parents(self, params: dict, parents: list[str] | None) -> dict:
        """Fold each parent's manifest identity into the child's params so
        the child's hash changes whenever an upstream stage was recomputed
        (the parent-staleness class ADVICE r2 flagged). Called both when
        checking reuse and when writing, so the recorded hash always refers
        to the parents as they existed at this stage's build time."""
        chained = dict(params)
        for p in parents or []:
            pman = self.manifest(p)
            chained[f"_parent:{p}"] = (
                [pman.get("params_hash"), pman.get("content_fingerprint")]
                if pman
                else None
            )
        return chained

    def stage(
        self,
        name: str,
        df_or_thunk,
        key_cols: list[str],
        parents: list[str] | None = None,
        force: bool = False,
        params: dict | None = None,
        layout: tuple[str, int] | None = None,
    ) -> DataFrame:
        """Materialize ``df`` (or the DataFrame returned by a zero-arg
        callable — use a thunk when even *building* the plan is expensive,
        e.g. requires driver-side training) as checkpoint ``name``, or read
        the existing checkpoint when complete. Returns the checkpoint-backed
        DataFrame, cutting all upstream lineage.

        ``params`` (the stage's semantic knobs) is hashed into the manifest;
        an existing checkpoint is only reused when its recorded params hash
        matches — a changed parameter recomputes instead of silently
        returning stale outputs. Each parent's identity (its params_hash AND
        content_fingerprint, read from its manifest at hash time) is folded
        into the child's hash (ADVICE r2): a recomputed upstream stage —
        changed params or changed data — transitively invalidates every
        downstream checkpoint instead of leaving stale children that still
        hash-match their own unchanged knobs.

        ``layout=(col, n)`` (VERDICT r2 #6) writes the checkpoint
        hash-directory-partitioned by ``_part = pmod(xxhash64(col), n)`` and
        records the layout in the manifest. Resume reads can then prune to a
        partition subset (``.filter("_part = k")`` is a planning-time
        PartitionFilter, only matching directories are listed), and
        downstream joins that carry ``_part`` as an equi-key get dynamic
        partition pruning of this checkpoint's scan. The read-back frame
        keeps the ``_part`` column for exactly that purpose.
        ``run_blocking_pipeline`` sizes ``n`` with ``hash_layout_width``:
        one directory per started GiB of the input's size estimate, capped
        at 32, unless ``ckpt_hash_partitions`` overrides it.
        ``layout=None`` writes flat parquet."""
        data_path, mpath = self._paths(name)
        layout_desc = (
            {"type": "hash_dir", "col": layout[0], "n": layout[1],
             "part_col": "_part"}
            if layout
            else None
        )
        if params is not None:
            phash = params_hash(
                {**self._chain_parents(params, parents), "_layout": layout_desc}
            )
        else:
            phash = None
        if not force and self.is_complete(name):
            man = self.manifest(name)
            if (phash is None or man.get("params_hash") == phash) and man.get(
                "layout"
            ) == layout_desc:
                return self.spark.read.parquet(data_path)

        df = df_or_thunk() if callable(df_or_thunk) else df_or_thunk
        t0 = time.perf_counter()
        if layout_desc:
            col, n = layout
            if "_part" in df.columns:  # stale helper from an upstream stage
                df = df.drop("_part")
            df = df.withColumn(
                "_part", F.pmod(F.xxhash64(F.col(col)), F.lit(n)).cast("int")
            )
            df.write.mode("overwrite").partitionBy("_part").parquet(data_path)
        else:
            df.write.mode("overwrite").parquet(data_path)
        out = self.spark.read.parquet(data_path)
        wall = time.perf_counter() - t0
        # one aggregation pass yields rows, the global fingerprint AND the
        # per-partition lineage metrics (previously two separate jobs);
        # layout stages key the stats on the durable _part column
        parts, fingerprint, n_rows = partition_stats(
            out, key_cols, part_col="_part" if layout_desc else None
        )
        man = {
            "stage": name,
            "rows": n_rows,
            "n_partitions": len(parts),
            "partitions": parts,
            "schema": out.schema.jsonValue(),
            "key_cols": key_cols,
            "content_fingerprint": fingerprint,
            "wall_seconds": round(wall, 3),
            "written_at_ns": time.time_ns(),
            "parents": parents or [],
            "params_hash": phash,
            "params": params,
            "layout": layout_desc,
        }
        tmp = mpath + ".tmp"
        with open(tmp, "w") as f:
            json.dump(man, f, indent=2)
        os.replace(tmp, mpath)  # atomic commit: manifest appears only complete
        return out

    def verify(self, name: str, part: int | None = None) -> bool:
        """Re-derive the fingerprint from the checkpoint data and compare to
        the manifest (integrity check for resume). With ``part`` and a
        hash-dir layout, verifies only that partition — the read prunes to
        one directory and compares against the manifest's per-partition
        entry, the incremental-integrity unit at scale."""
        man = self.manifest(name)
        if man is None:
            return False
        data_path, _ = self._paths(name)
        df = self.spark.read.parquet(data_path)
        if part is not None:
            if not man.get("layout"):
                raise ValueError(f"stage {name!r} has no layout; cannot "
                                 "verify a single partition")
            entry = next(
                (p for p in man["partitions"] if p["pid"] == part), None
            )
            sub = df.filter(F.col(man["layout"]["part_col"]) == part)
            if entry is None:  # absent dir must really be empty
                return sub.count() == 0
            return (
                sub.count() == entry["rows"]
                and content_fingerprint(sub, man["key_cols"])
                == entry["fingerprint"]
            )
        return (
            df.count() == man["rows"]
            and content_fingerprint(df, man["key_cols"]) == man["content_fingerprint"]
        )

    def lineage(self) -> list[dict]:
        """All manifests, topologically ordered by write time."""
        out = []
        if not os.path.isdir(self.base_dir):
            return out
        for name in sorted(os.listdir(self.base_dir)):
            man = self.manifest(name)
            if man:
                out.append(man)
        return sorted(out, key=lambda m: m["written_at_ns"])


def run_blocking_pipeline(
    spark: SparkSession,
    source: DataFrame,
    ckpt: CheckpointManager,
    cols_to_block: list[str],
    id_col: str = "id",
    k: int = 10,
    min_sim: float | None = None,
    verify_jaccard: float | None = 0.4,
    config=None,
    force: bool = False,
    pairing: str = "auto",
) -> DataFrame:
    """The checkpointed end-to-end ER pipeline, each stage resumable:

      preprocess+embed -> top-K candidates (recall-oriented) ->
      score/verify (precision: exact token-set Jaccard and/or cosine
      threshold) -> connected components.

    Embedding blocking casts a wide net; the verify stage decides matches.
    The token-set Jaccard verification runs only on candidate pairs (k*N,
    not N^2) as JVM array intersections. Returns (id, component).

    ``pairing`` selects the candidate generator (VERDICT r1 #1 — the scale
    path must be reachable from the production entrypoint):
      * 'exact' — chunk-broadcast exact top-K (the recall oracle);
      * 'lsh'   — random-hyperplane LSH buckets, no driver materialization
                  of the table, bounded shuffle: the 100 TB path;
      * 'ivf'   — IVF-flat with driver-trained centroids;
      * 'ivfpq' — IVFADC: IVF cells + in-cell ADC over m-byte PQ codes
                  (the index role's exchange payload drops 32×; measured
                  2.3× faster than ivf-flat at 240k rows, BASELINE.md);
      * 'auto'  — one of the above by the embeddings checkpoint's manifest
                  row count: the rule is ``operators.pairing.resolve_pairing``.
                  The resolved mode lands in the candidates manifest params.

    The embeddings, candidates and scored checkpoints share one
    hash-directory layout of width ``n``. ``cfg.ckpt_hash_partitions=None``
    (the default) derives ``n`` from ``source``: one directory per started
    GiB of its optimizer size estimate, capped at 32, which is also the
    width of an input Spark cannot size. An int overrides it; a value below
    1 raises ValueError. The embeddings stage decides ``n``; later stages
    and the verify join read it from the embeddings manifest, so a resumed
    run keeps the join keys of the checkpoints it reuses.
    """
    from deepblocker_spark.config import DEFAULT_CONFIG
    from deepblocker_spark.functions.tokenizer import tokens_col
    from deepblocker_spark.operators.cluster import connected_components
    from deepblocker_spark.operators.preprocess import MERGED_TEXT, preprocess_table
    from deepblocker_spark.operators.pairing import (
        PAIRING_MODES,
        pairing_for,
        resolve_pairing,
    )
    from deepblocker_spark.pipeline import SparkSIFEmbedding

    cfg = config or DEFAULT_CONFIG
    if pairing not in PAIRING_MODES:  # before the embedding stage runs
        raise ValueError(f"unknown pairing mode: {pairing!r}")

    def build_embeddings() -> DataFrame:
        pre = preprocess_table(source, cols_to_block, id_col)
        model = SparkSIFEmbedding(cfg)
        model.preprocess(pre.select(MERGED_TEXT))
        return model.embed(pre)

    # hash-directory layout shared by all stages: partition col derives
    # from the stage's left/driving id, so resume reads prune and the
    # verify joins below carry the partition key (VERDICT r2 #6)
    emb = ckpt.stage(
        "embeddings", build_embeddings, [id_col], force=force,
        params={"cols_to_block": cols_to_block, "id_col": id_col,
                "emb_dim": cfg.emb_dim, "remove_pc": cfg.remove_pc,
                "sif_a": cfg.sif_weighting_param,
                "random_seed": cfg.random_seed},
        layout=(id_col, hash_layout_width(source, cfg.ckpt_hash_partitions)),
    )

    emb_man = ckpt.manifest("embeddings")
    n_rows = emb_man["rows"]
    n_part = emb_man["layout"]["n"]
    mode = resolve_pairing(pairing, n_rows, cfg)
    pairer = pairing_for(mode, k, cfg)

    def build_candidates() -> DataFrame:
        # the manifest row count is the index-side row hint (no sizing
        # count job); mode='self' because emb is checkpoint-backed: never
        # rely on object identity for self-vs-dyadic dispatch (ADVICE r2)
        pairer.index(emb, r_id=id_col, rows=n_rows)
        return pairer.query(emb, l_id=id_col, mode="self")

    cands = ckpt.stage(
        "candidates", build_candidates, ["l_id", "r_id"],
        parents=["embeddings"], force=force,
        params={"k": k, "pairing": mode, "random_seed": cfg.random_seed,
                "lsh": None, "ivf": None, "ivfpq": None, **pairer.params()},
        layout=("l_id", n_part),
    )
    # the candidates stage is materialized: release the frames and
    # broadcasts the operators behind it registered
    from deepblocker_spark.operators.bc_registry import release_tracked

    release_tracked()

    def build_scored() -> DataFrame:
        out = cands
        if min_sim is not None:
            out = out.filter(F.col("sim") >= min_sim)
        if verify_jaccard is not None:
            # Both checkpoints share the hash-dir layout, so the verify
            # joins carry the partition key as an extra equi-key (it is a
            # pure function of the id key — semantically a no-op): when the
            # candidate side is filtered (incremental verify, resume of a
            # partition subset), dynamic partition pruning skips the
            # non-matching directories of the embeddings checkpoint instead
            # of scanning all of it (VERDICT r2 #6).
            toks = emb.select(
                F.col(id_col),
                F.array_distinct(tokens_col(MERGED_TEXT)).alias("_toks"),
                "_part",
            )
            tl = toks.select(
                F.col(id_col).alias("l_id"), F.col("_toks").alias("_tl"), "_part"
            )
            tr = toks.select(
                F.col(id_col).alias("r_id"), F.col("_toks").alias("_tr"),
                F.col("_part").alias("_rpart"),
            )
            out = (
                out.withColumn(
                    "_rpart",
                    F.pmod(F.xxhash64(F.col("r_id")), F.lit(n_part)).cast("int"),
                )
                .join(tl, ["l_id", "_part"])
                .join(tr, ["r_id", "_rpart"])
                .drop("_rpart")
            )
            out = (
                out.withColumn("_inter", F.size(F.array_intersect("_tl", "_tr")))
                .withColumn(
                    "jaccard",
                    F.col("_inter")
                    / (F.size("_tl") + F.size("_tr") - F.col("_inter")),
                )
                .filter(F.col("jaccard") >= verify_jaccard)
                .drop("_tl", "_tr", "_inter")
            )
        return out

    scored = ckpt.stage(
        "scored", build_scored, ["l_id", "r_id"], parents=["candidates"],
        force=force,
        params={"min_sim": min_sim, "verify_jaccard": verify_jaccard},
        layout=("l_id", n_part),
    )

    def build_clusters() -> DataFrame:
        return connected_components(scored)

    return ckpt.stage(
        "clusters", build_clusters, ["id", "component"],
        parents=["scored"], force=force, params={},
    )
