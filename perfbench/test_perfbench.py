"""The benchmark's own test: output checks, metric catalog, and end-to-end
runs in --small mode. Run with ``python3 -m pytest perfbench -q``."""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

from run import WORKLOADS, check_outputs  # noqa: E402
from spans import LAYER_METRICS  # noqa: E402

BENCHMARK = json.loads((ROOT / "BENCHMARK.json").read_text())

WANT = {
    "embeddings": [120, 11, None],
    "candidates": [1200, 22, "exact"],
    "scored": [300, 33, None],
    "clusters": [110, 44, None],
}


def test_check_outputs_accepts_identical_run():
    got = json.loads(json.dumps(WANT))
    assert check_outputs(got, WANT, 110) == []


@pytest.mark.parametrize("stage,field,value", [
    ("embeddings", 0, 119),       # row count
    ("candidates", 1, 23),        # content fingerprint
    ("candidates", 2, "lsh"),     # pairing mode
    ("scored", 1, 0),
])
def test_check_outputs_flags_a_changed_checkpoint(stage, field, value):
    got = json.loads(json.dumps(WANT))
    got[stage][field] = value
    assert len(check_outputs(got, WANT, 110)) == 1


def test_check_outputs_flags_missing_stage_and_count():
    got = json.loads(json.dumps(WANT))
    got["clusters"] = None
    assert len(check_outputs(got, WANT, 110)) == 1
    assert len(check_outputs(WANT, WANT, 109)) == 1


@pytest.mark.parametrize("workload,seconds,trace,runs", [
    ("dedup_exact", 1, False, 1), ("dedup_exact", 1, True, 3),
    ("dedup_exact", 20, False, 3), ("dedup_lsh", 20, False, 1),
    ("dedup_lsh", 20, True, 3),
])
def test_run_count_follows_the_window_only(workload, seconds, trace, runs):
    assert WORKLOADS[workload].n_runs(seconds, trace) == runs


def test_benchmark_json_matches_the_code():
    assert [(m["name"], m["unit"]) for m in BENCHMARK["per_layer"]] == LAYER_METRICS
    assert [w["name"] for w in BENCHMARK["workloads"]] == sorted(WORKLOADS)
    assert BENCHMARK["paths"] == ["perfbench"]


def _run(workload: str, trace: int, cwd: Path = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--small"],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


@pytest.mark.parametrize("workload,trace", [("dedup_exact", 1), ("dedup_lsh", 0)])
def test_small_run_is_correct_and_reports_every_metric(workload, trace):
    proc = _run(workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    detail = json.loads(lines[-2])["detail"]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True, detail
    assert result["failed"] == 0 and result["attempted"] >= 1
    listed = BENCHMARK["per_layer"] if trace else BENCHMARK["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in listed}
    for m in listed:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
    values = {k: v["value"] for k, v in result["metrics"].items()}
    if trace:
        for stage in ("embeddings", "candidates", "scored", "clusters"):
            assert values[f"ckpt.{stage}.wall_s"] > 0
        assert values["ckpt.scored.rows"] > 0
        assert values["run.wall_s"] >= values["ckpt.scored.wall_s"]
        # every workload enters every span: no time reads a constant 0
        times = {m["name"] for m in listed if m["unit"] == "s"}
        assert all(values[k] > 0 for k in times - {"trace.overhead_s"}), values
    else:
        assert all(v > 0 for v in values.values()), values
    prov = detail["provenance"]
    for key in ("cores", "ram_mb", "spark", "java", "python", "git_sha",
                "seed", "traced", "started_at"):
        assert key in prov
    assert not (ROOT / ".perfbench_work").exists()


def test_fails_without_the_engine(tmp_path):
    """In a directory holding only the benchmark, it exits non-zero and
    prints no result."""
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path / "BENCHMARK.json")
    proc = _run("dedup_exact", 0, cwd=tmp_path)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
