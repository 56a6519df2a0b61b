"""Checkpoint/lineage/resume tests + the golden-cluster end-to-end F1 gate
(BASELINE.json metric: pairwise F1 >= 0.99 on labeled pairs)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from deepblocker_spark.config import BlockerConfig
from deepblocker_spark.fixtures import repo_file_table
from deepblocker_spark.operators.cluster import clusters_to_pairs
from deepblocker_spark.operators.metrics import pairwise_f1
from deepblocker_spark.plans.checkpoint import (
    CheckpointManager,
    content_fingerprint,
    hash_dirs_for,
    hash_layout_width,
    run_blocking_pipeline,
)
from deepblocker_spark.sources.repo_files import with_durable_id

CFG = BlockerConfig(emb_dim=64, top_k=10, remove_pc=True)


@pytest.fixture(scope="module")
def repo_df(spark):
    pdf, golden_idx = repo_file_table(n_clusters=40, max_dups=4, seed=7)
    df = with_durable_id(spark.createDataFrame(pdf)).persist()
    df.count()
    return df, pdf


def _golden_pairs(spark, df):
    """All intra-cluster id pairs from the hidden _cluster column."""
    ids = df.select("id", "_cluster")
    l = ids.select(F.col("id").alias("l_id"), F.col("_cluster").alias("ca"))
    r = ids.select(F.col("id").alias("r_id"), F.col("_cluster").alias("cb"))
    return (
        l.join(r, l["ca"] == r["cb"])
        .filter(F.col("l_id") < F.col("r_id"))
        .select("l_id", "r_id")
    )


def test_pipeline_end_to_end_f1(spark, repo_df, tmp_path):
    """north_rule gate: clusters from the pipeline vs constructed golden
    clusters, pairwise F1 >= 0.99."""
    df, _ = repo_df
    ckpt = CheckpointManager(spark, str(tmp_path / "ckpt"))
    clusters = run_blocking_pipeline(
        spark, df, ckpt, ["repo", "path", "lang", "content"],
        id_col="id", k=20, verify_jaccard=0.4, config=CFG,
    )
    pred = clusters_to_pairs(clusters).select(
        F.col("a").alias("l_id"), F.col("b").alias("r_id")
    )
    gold = _golden_pairs(spark, df)
    row = pairwise_f1(pred, gold).collect()[0]
    assert row["f1"] >= 0.99, dict(row.asDict())


def test_checkpoint_resume_identical_and_skips_recompute(spark, repo_df, tmp_path):
    df, _ = repo_df
    base = str(tmp_path / "ckpt2")
    ckpt = CheckpointManager(spark, base)
    first = run_blocking_pipeline(
        spark, df, ckpt, ["repo", "path", "lang", "content"], config=CFG, verify_jaccard=0.4
    ).toPandas()

    # Simulate a crash after the candidates stage: clusters manifest removed.
    os.remove(os.path.join(base, "clusters", "manifest.json"))
    ckpt2 = CheckpointManager(spark, base)
    assert ckpt2.is_complete("embeddings") and ckpt2.is_complete("candidates")
    assert not ckpt2.is_complete("clusters")

    second = run_blocking_pipeline(
        spark, df, ckpt2, ["repo", "path", "lang", "content"], config=CFG, verify_jaccard=0.4
    ).toPandas()
    key = lambda p: sorted(map(tuple, p[["id", "component"]].values.tolist()))  # noqa: E731
    assert key(first) == key(second)


def test_manifest_contents_and_verify(spark, repo_df, tmp_path):
    df, _ = repo_df
    base = str(tmp_path / "ckpt3")
    ckpt = CheckpointManager(spark, base)
    run_blocking_pipeline(
        spark, df, ckpt, ["repo", "path", "lang", "content"], config=CFG, verify_jaccard=0.4
    )
    man = ckpt.manifest("candidates")
    assert man["parents"] == ["embeddings"]
    assert man["rows"] > 0
    assert man["key_cols"] == ["l_id", "r_id"]
    # per-partition lineage (north_rule): partition rows sum to the stage
    # total; every entry carries its own fingerprint; the global fingerprint
    # is consistent with the independent content_fingerprint() computation
    parts = man["partitions"]
    assert len(parts) == man["n_partitions"] >= 1
    assert sum(p["rows"] for p in parts) == man["rows"]
    assert all("fingerprint" in p for p in parts)
    df_back = spark.read.parquet(os.path.join(base, "candidates", "data.parquet"))
    assert content_fingerprint(df_back, ["l_id", "r_id"]) == man["content_fingerprint"]
    assert ckpt.verify("candidates")
    assert ckpt.verify("embeddings")
    lineage = ckpt.lineage()
    assert [m["stage"] for m in lineage] == ["embeddings", "candidates", "scored", "clusters"]
    # manifest is valid JSON on disk
    with open(os.path.join(base, "clusters", "manifest.json")) as f:
        assert json.load(f)["stage"] == "clusters"


def test_content_sha_invariant_through_pipeline(spark, repo_df, tmp_path):
    """input_hint invariant: per-row content sha256 equality vs the source,
    checked through the embeddings checkpoint."""
    df, _ = repo_df
    ckpt = CheckpointManager(spark, str(tmp_path / "ckpt4"))

    def build():
        from deepblocker_spark.operators.preprocess import preprocess_table

        pre = preprocess_table(df, ["content"], "id")
        return pre.join(df.select("id", "content_sha"), "id")

    staged = ckpt.stage("pre_with_sha", build, ["id", "content_sha"])
    diff = staged.select("id", "content_sha").exceptAll(df.select("id", "content_sha"))
    assert diff.count() == 0


def test_pipeline_lsh_pairing_end_to_end_f1(spark, repo_df, tmp_path):
    """VERDICT r1 #1: the scale path (LSH pairing) is selectable from the
    checkpointed pipeline and still clears the pairwise-F1 >= 0.99 gate."""
    df, _ = repo_df
    cfg = BlockerConfig(emb_dim=64, top_k=10, remove_pc=True,
                        lsh_n_bands=16, lsh_band_bits=4)
    ckpt = CheckpointManager(spark, str(tmp_path / "ckpt_lsh"))
    clusters = run_blocking_pipeline(
        spark, df, ckpt, ["repo", "path", "lang", "content"],
        id_col="id", k=20, verify_jaccard=0.4, config=cfg, pairing="lsh",
    )
    assert ckpt.manifest("candidates")["params"]["pairing"] == "lsh"
    pred = clusters_to_pairs(clusters).select(
        F.col("a").alias("l_id"), F.col("b").alias("r_id")
    )
    gold = _golden_pairs(spark, df)
    row = pairwise_f1(pred, gold).collect()[0]
    assert row["f1"] >= 0.99, dict(row.asDict())


def test_pipeline_auto_pairing_picks_lsh_above_threshold(spark, repo_df, tmp_path):
    df, _ = repo_df
    cfg = BlockerConfig(emb_dim=64, top_k=10, remove_pc=True,
                        pairing_lsh_threshold_rows=10,  # tiny: force LSH
                        lsh_n_bands=16, lsh_band_bits=4)
    ckpt = CheckpointManager(spark, str(tmp_path / "ckpt_auto"))
    run_blocking_pipeline(
        spark, df, ckpt, ["repo", "path", "lang", "content"],
        id_col="id", k=20, verify_jaccard=0.4, config=cfg, pairing="auto",
    )
    assert ckpt.manifest("candidates")["params"]["pairing"] == "lsh"


def test_changed_params_invalidate_checkpoint(spark, repo_df, tmp_path):
    """ADVICE r1: resume is keyed on (stage, params) — re-running with a
    different k must recompute candidates, not silently return stale data."""
    df, _ = repo_df
    base = str(tmp_path / "ckpt_params")
    ckpt = CheckpointManager(spark, base)
    run_blocking_pipeline(
        spark, df, ckpt, ["repo", "path", "lang", "content"],
        id_col="id", k=5, verify_jaccard=0.4, config=CFG,
    )
    rows_k5 = ckpt.manifest("candidates")["rows"]
    run_blocking_pipeline(
        spark, df, CheckpointManager(spark, base),
        ["repo", "path", "lang", "content"],
        id_col="id", k=10, verify_jaccard=0.4, config=CFG,
    )
    ckpt2 = CheckpointManager(spark, base)
    assert ckpt2.manifest("candidates")["params"]["k"] == 10
    assert ckpt2.manifest("candidates")["rows"] > rows_k5


def test_upstream_param_change_invalidates_downstream(spark, repo_df, tmp_path):
    """ADVICE r2: a changed UPSTREAM param (emb_dim) must transitively
    recompute candidates/scored/clusters even though their own params are
    unchanged — parent manifests are folded into each child's params hash."""
    df, _ = repo_df
    base = str(tmp_path / "ckpt_parent")
    run_blocking_pipeline(
        spark, df, CheckpointManager(spark, base),
        ["repo", "path", "lang", "content"],
        id_col="id", k=10, verify_jaccard=0.4, config=CFG,
    )
    ckpt = CheckpointManager(spark, base)
    before = {s: ckpt.manifest(s)["written_at_ns"]
              for s in ("embeddings", "candidates", "scored", "clusters")}
    cfg2 = BlockerConfig(emb_dim=32, top_k=10, remove_pc=True)
    run_blocking_pipeline(
        spark, df, CheckpointManager(spark, base),
        ["repo", "path", "lang", "content"],
        id_col="id", k=10, verify_jaccard=0.4, config=cfg2,
    )
    ckpt2 = CheckpointManager(spark, base)
    for s in ("embeddings", "candidates", "scored", "clusters"):
        assert ckpt2.manifest(s)["written_at_ns"] > before[s], (
            f"stage {s} was stale-reused after an upstream param change"
        )


def test_pipeline_ivf_pairing_end_to_end_f1(spark, repo_df, tmp_path):
    """IVF pairing from the checkpointed pipeline: driver-trained centroids,
    deterministic hash sample, still clears the F1 gate (near-dup vectors
    share a home cell, and every query probes its nprobe nearest cells)."""
    df, _ = repo_df
    cfg = BlockerConfig(emb_dim=64, top_k=10, remove_pc=True,
                        ivf_n_cells=8, ivf_nprobe=6)
    ckpt = CheckpointManager(spark, str(tmp_path / "ckpt_ivf"))
    clusters = run_blocking_pipeline(
        spark, df, ckpt, ["repo", "path", "lang", "content"],
        id_col="id", k=20, verify_jaccard=0.4, config=cfg, pairing="ivf",
    )
    assert ckpt.manifest("candidates")["params"]["pairing"] == "ivf"
    pred = clusters_to_pairs(clusters).select(
        F.col("a").alias("l_id"), F.col("b").alias("r_id")
    )
    gold = _golden_pairs(spark, df)
    row = pairwise_f1(pred, gold).collect()[0]
    assert row["f1"] >= 0.99, dict(row.asDict())


def _plan_text(df) -> str:
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_checkpoint_hash_layout_prunes(spark, repo_df, tmp_path):
    """VERDICT r2 #6: pipeline checkpoints are hash-directory-partitioned
    (_part = pmod(xxhash64(id), P)); the manifest records the layout; a
    partition-subset read is pruned at planning time; and the verify-stage
    join carries _part as an equi-key, so a filtered candidate side prunes
    the embeddings-checkpoint scan to only the matching partitions."""
    df, _ = repo_df
    base = str(tmp_path / "ckpt_layout")
    ckpt = CheckpointManager(spark, base)
    cfg = BlockerConfig(emb_dim=64, top_k=10, remove_pc=True,
                        ckpt_hash_partitions=32)
    run_blocking_pipeline(
        spark, df, ckpt, ["repo", "path", "lang", "content"],
        id_col="id", k=10, verify_jaccard=0.4, config=cfg,
    )
    p = cfg.ckpt_hash_partitions
    for stage, col in (("embeddings", "id"), ("candidates", "l_id"),
                       ("scored", "l_id")):
        assert ckpt.manifest(stage)["layout"] == {
            "type": "hash_dir", "col": col, "n": p, "part_col": "_part",
        }, stage
    # hash-dir directories actually exist on disk
    cand_dir = os.path.join(base, "candidates", "data.parquet")
    assert any(d.startswith("_part=") for d in os.listdir(cand_dir))

    # (a) resume read of a partition subset: planning-time partition filter,
    # only matching directories scanned
    import re

    cands = spark.read.parquet(cand_dir)
    plan = _plan_text(cands.filter(F.col("_part") == 3))
    # plan expressions carry #ids: "PartitionFilters: [..., (_part#123 = 3)]"
    part_filter = re.compile(r"\(_part#\d+ = 3\)")
    assert "PartitionFilters" in plan and part_filter.search(plan), plan

    # the layout column is consistent with the manifest formula
    bad = cands.filter(
        F.col("_part") != F.pmod(F.xxhash64(F.col("l_id")), F.lit(p)).cast("int")
    ).count()
    assert bad == 0

    # (b) verify-stage join shape: candidate side filtered to one partition
    # + join on (l_id, _part) => the embeddings-checkpoint scan is pruned to
    # that partition (static constraint propagation or dynamic pruning —
    # either proves only matching partitions are scanned)
    emb = spark.read.parquet(os.path.join(base, "embeddings", "data.parquet"))
    from deepblocker_spark.functions.tokenizer import tokens_col
    from deepblocker_spark.operators.preprocess import MERGED_TEXT

    tl = emb.select(
        F.col("id").alias("l_id"),
        F.array_distinct(tokens_col(MERGED_TEXT)).alias("_tl"),
        "_part",
    )
    joined = cands.filter(F.col("_part") == 3).join(tl, ["l_id", "_part"])
    plan = _plan_text(joined)
    # both scans must carry the partition filter
    assert len(part_filter.findall(plan)) >= 2, plan
    joined.count()  # executes — the pruned join is actually runnable

    # (c) per-partition lineage is keyed on the DURABLE _part values, so a
    # single partition is incrementally verifiable (pruned read vs its own
    # manifest fingerprint entry)
    man = ckpt.manifest("candidates")
    pids = {p["pid"] for p in man["partitions"]}
    assert pids <= set(range(p)) and len(pids) >= 2
    assert ckpt.verify("candidates", part=sorted(pids)[0])
    absent = set(range(cfg.ckpt_hash_partitions)) - pids
    if absent:  # an absent directory verifies as genuinely empty
        assert ckpt.verify("candidates", part=sorted(absent)[0])


@pytest.mark.parametrize("size_bytes, want", [
    (0, 1),
    ((1 << 30) + 1, 2),
    (32 << 30, 32),
    (1 << 40, 32),
    (2**63 - 1, 32),  # Long.MaxValue: Spark cannot size the input
])
def test_hash_dirs_sizing_rule(size_bytes, want):
    assert hash_dirs_for(size_bytes) == want


@pytest.mark.parametrize("override", [0, -1])
def test_hash_layout_width_rejects_below_one(spark, override):
    with pytest.raises(ValueError):
        hash_layout_width(spark.range(1), override)


def test_derived_layout_one_dir_and_resume(spark, repo_df, tmp_path):
    """ckpt_hash_partitions=None sizes the layout to the input: the test
    table is far below 1 GiB, so every layout stage is one _part=0
    directory. A second run reuses all four stages, and the single
    partition verifies against its manifest entry."""
    df, _ = repo_df
    assert hash_layout_width(df) == 1
    base = str(tmp_path / "ckpt_derived")
    ckpt = CheckpointManager(spark, base)
    run_blocking_pipeline(
        spark, df, ckpt, ["repo", "path", "lang", "content"],
        id_col="id", k=10, verify_jaccard=0.4, config=CFG,
    )
    layout_stages = ("embeddings", "candidates", "scored")
    for stage in layout_stages:
        assert ckpt.manifest(stage)["layout"]["n"] == 1, stage
        data_dir = os.path.join(base, stage, "data.parquet")
        assert [d for d in os.listdir(data_dir) if d.startswith("_part=")] == [
            "_part=0"
        ], stage
    stages = layout_stages + ("clusters",)
    before = {s: ckpt.manifest(s)["written_at_ns"] for s in stages}
    run_blocking_pipeline(
        spark, df, CheckpointManager(spark, base),
        ["repo", "path", "lang", "content"],
        id_col="id", k=10, verify_jaccard=0.4, config=CFG, force=False,
    )
    ckpt2 = CheckpointManager(spark, base)
    assert {s: ckpt2.manifest(s)["written_at_ns"] for s in stages} == before
    for stage in layout_stages:
        assert ckpt2.verify(stage, part=0), stage


def test_pipeline_releases_persisted_rdds(spark, repo_df, tmp_path):
    """A pipeline run leaves no persisted RDD behind: the connected
    components stage used to keep its localCheckpoint-ed edge frame."""
    df, _ = repo_df
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    run_blocking_pipeline(
        spark, df, CheckpointManager(spark, str(tmp_path / "ckpt_rdds")),
        ["repo", "path", "lang", "content"],
        id_col="id", k=10, verify_jaccard=0.4, config=CFG,
    ).count()
    assert jsc.getPersistentRDDs().size() == before


def test_pipeline_ivfpq_pairing_end_to_end_f1(spark, repo_df, tmp_path):
    """IVFADC pairing from the checkpointed pipeline (round 4): IVF cells
    + in-cell ADC over PQ codes still clears the F1 gate — near-dup
    vectors share a home cell, and 256-code quantization preserves their
    ranking by a wide margin at this similarity gap."""
    df, _ = repo_df
    cfg = BlockerConfig(emb_dim=64, top_k=10, remove_pc=True,
                        ivf_n_cells=8, ivf_nprobe=6)
    ckpt = CheckpointManager(spark, str(tmp_path / "ckpt_ivfpq"))
    clusters = run_blocking_pipeline(
        spark, df, ckpt, ["repo", "path", "lang", "content"],
        id_col="id", k=20, verify_jaccard=0.4, config=cfg, pairing="ivfpq",
    )
    assert ckpt.manifest("candidates")["params"]["pairing"] == "ivfpq"
    assert ckpt.manifest("candidates")["params"]["ivfpq"] == [8, 6, 8, 256]
    pred = clusters_to_pairs(clusters).select(
        F.col("a").alias("l_id"), F.col("b").alias("r_id")
    )
    gold = _golden_pairs(spark, df)
    row = pairwise_f1(pred, gold).collect()[0]
    assert row["f1"] >= 0.99, dict(row.asDict())


def test_pipeline_auto_pairing_picks_ivfpq_and_f1(spark, repo_df, tmp_path):
    """Round 6 (VERDICT r5 #5): 'auto' has a second tier — above the LSH
    row threshold AND above pairing_ivfpq_min_bytes of raw embedding
    matrix, it routes to IVFADC. Tiny thresholds trigger it at test size;
    the auto-selected IVFADC path must clear the same F1 gate, and the
    resolved mode must land in the candidates manifest."""
    df, _ = repo_df
    cfg = BlockerConfig(emb_dim=64, top_k=10, remove_pc=True,
                        pairing_lsh_threshold_rows=10,
                        pairing_ivfpq_min_bytes=100,  # tiny: force IVFADC
                        ivf_n_cells=8, ivf_nprobe=6)
    ckpt = CheckpointManager(spark, str(tmp_path / "ckpt_auto_ivfpq"))
    clusters = run_blocking_pipeline(
        spark, df, ckpt, ["repo", "path", "lang", "content"],
        id_col="id", k=20, verify_jaccard=0.4, config=cfg, pairing="auto",
    )
    assert ckpt.manifest("candidates")["params"]["pairing"] == "ivfpq"
    assert ckpt.manifest("candidates")["params"]["ivfpq"] == [8, 6, 8, 256]
    pred = clusters_to_pairs(clusters).select(
        F.col("a").alias("l_id"), F.col("b").alias("r_id")
    )
    gold = _golden_pairs(spark, df)
    row = pairwise_f1(pred, gold).collect()[0]
    assert row["f1"] >= 0.99, dict(row.asDict())


STAGES = ("embeddings", "candidates", "scored", "clusters")


def _empty_ids(spark):
    return spark.range(10).filter("id > 100").select(
        F.col("id").cast("string").alias("id"))


def test_empty_layout_stage_writes_verifies_and_resumes(spark, tmp_path):
    """A partitioned write of 0 rows leaves no data file to infer a schema
    from: the read-back, ``verify()`` and the resume read use the known
    schema instead of failing with UNABLE_TO_INFER_SCHEMA."""
    ckpt = CheckpointManager(spark, str(tmp_path / "ckpt_empty"))
    kw = {"params": {"v": 1}, "layout": ("id", 4)}
    out = ckpt.stage("empty", _empty_ids(spark), ["id"], **kw)
    assert out.count() == 0
    assert out.columns == ["id", "_part"]
    man = ckpt.manifest("empty")
    assert (man["rows"], man["n_partitions"], man["partitions"]) == (0, 0, [])
    assert man["content_fingerprint"] == content_fingerprint(out, ["id"])
    assert ckpt.verify("empty")
    assert ckpt.verify("empty", part=2)
    resumed = ckpt.stage("empty", _empty_ids(spark), ["id"], **kw)
    assert ckpt.manifest("empty")["written_at_ns"] == man["written_at_ns"]
    assert resumed.schema == out.schema and resumed.count() == 0


def test_pipeline_with_no_verified_pair(spark, repo_df, tmp_path):
    """No candidate reaches min_sim > 1: the scored stage is empty, and
    the pipeline still finishes with empty, verifiable stages."""
    df, _ = repo_df
    ckpt = CheckpointManager(spark, str(tmp_path / "ckpt_no_pairs"))
    clusters = run_blocking_pipeline(
        spark, df, ckpt, ["repo", "path", "lang", "content"],
        id_col="id", k=10, min_sim=1.5, verify_jaccard=0.4, config=CFG,
    )
    assert clusters.count() == 0
    assert ckpt.manifest("scored")["rows"] == 0
    assert ckpt.manifest("clusters")["rows"] == 0
    assert all(ckpt.verify(s) for s in STAGES)


def test_observed_manifest_matches_data_on_disk(spark, repo_df, tmp_path):
    """The manifest metrics the stage writes observe equal a recompute
    from the written files: per ``_part`` entries (absent pids omitted),
    rows and fingerprint; the recorded schema is the one a read infers."""
    df, _ = repo_df
    base = tmp_path / "ckpt_parity"
    ckpt = CheckpointManager(spark, str(base))
    cfg = BlockerConfig(emb_dim=64, top_k=10, remove_pc=True,
                        ckpt_hash_partitions=4)
    run_blocking_pipeline(
        spark, df, ckpt, ["repo", "path", "lang", "content"],
        id_col="id", k=10, verify_jaccard=0.4, config=cfg,
    )
    for stage in STAGES:
        man = ckpt.manifest(stage)
        back = spark.read.parquet(str(base / stage / "data.parquet"))
        assert man["schema"] == back.schema.jsonValue(), stage
        assert man["rows"] == back.count() > 0, stage
        assert man["content_fingerprint"] == content_fingerprint(
            back, man["key_cols"]), stage
        if man["layout"]:
            pids = sorted(r["_part"] for r in back.select("_part").distinct().collect())
            want = [
                {"pid": pid, "rows": sub.count(),
                 "fingerprint": content_fingerprint(sub, man["key_cols"])}
                for pid in pids
                for sub in [back.filter(F.col("_part") == pid)]
            ]
        else:  # one whole-stage entry
            want = [{"pid": 0, "rows": man["rows"],
                     "fingerprint": man["content_fingerprint"]}]
        assert man["partitions"] == want, stage
        assert man["n_partitions"] == len(want), stage


@pytest.mark.parametrize("layout", [("id", 4), None])
def test_stage_write_is_one_job(spark, tmp_path, layout):
    """A shuffle-free frame's stage launches exactly one Spark job: the
    write, which also yields the manifest metrics and the schema."""
    sc = spark.sparkContext
    ckpt = CheckpointManager(spark, str(tmp_path / "ckpt_jobs"))
    group = f"test-stage-jobs-{layout is None}"
    sc.setJobGroup(group, group)
    try:
        ckpt.stage("r", spark.range(1000), ["id"], layout=layout)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    assert ckpt.manifest("r")["rows"] == 1000


def test_verify_join_probes_one_token_exchange(spark, repo_df, tmp_path):
    """Both sides of a candidate pair probe the same token table: Spark
    builds it once and reuses the exchange for the second join."""
    from deepblocker_spark.plans.checkpoint import _verify_join

    df, _ = repo_df
    base = tmp_path / "ckpt_reuse"
    ckpt = CheckpointManager(spark, str(base))
    run_blocking_pipeline(
        spark, df, ckpt, ["repo", "path", "lang", "content"],
        id_col="id", k=10, verify_jaccard=0.4, config=CFG,
    )
    emb, cands = (spark.read.parquet(str(base / s / "data.parquet"))
                  for s in ("embeddings", "candidates"))
    n_part = ckpt.manifest("embeddings")["layout"]["n"]
    scored = _verify_join(cands, emb, "id", n_part, None, 0.4)
    assert scored.count() == ckpt.manifest("scored")["rows"]
    scored.collect()
    plan = _plan_text(scored)
    assert "ReusedExchange" in plan, plan
