"""Guard the bench harness's subprocess script strings.

bench.py's host controls (_CONTROL_SCRIPT, _BANDWIDTH_SCRIPT) are Python
source embedded in strings and only ever executed inside the scaling
recording — a syntax error or API drift there would first surface
~30 minutes into a driver bench run and void the round's artifact.
Compile them at test time and smoke-run each with minimal work; run the
scaling job (_scaling_job) on a small table for each route it takes."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

# the checkout these tests belong to, wherever it is
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _bench():
    sys.path.insert(0, _ROOT)
    import bench

    return bench


def test_scripts_compile():
    bench = _bench()
    compile(bench._CONTROL_SCRIPT, "<control>", "exec")
    compile(bench._BANDWIDTH_SCRIPT, "<bandwidth>", "exec")


def test_control_script_runs_minimal():
    bench = _bench()
    proc = subprocess.run(
        [sys.executable, "-c", bench._CONTROL_SCRIPT, "2", "1"],
        capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 0, proc.stderr[-500:]
    assert float(proc.stdout.strip().splitlines()[-1]) > 0


def test_bandwidth_script_runs_minimal():
    bench = _bench()
    proc = subprocess.run(
        [sys.executable, "-c", bench._BANDWIDTH_SCRIPT, "2", "2"],
        capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 0, proc.stderr[-500:]
    assert float(proc.stdout.strip().splitlines()[-1]) > 0


def test_rotate_window_planner_consistency():
    """The verification-window planner must parse the live registration
    order, agree with the CORRECTNESS artifacts on never-green queries,
    and keep every never-green query inside the suggested window."""
    sys.path.insert(0, os.path.join(_ROOT, "tools"))
    import rotate_window as rw

    names = rw.registration_order()
    assert len(names) == len(set(names)) >= 80
    hist = rw.history()
    order = rw.suggest(names, hist)
    assert sorted(order) == sorted(names)
    never = [
        n for n in names
        if not any(s == "green" for s in hist.get(n, {}).values())
    ]
    assert all(order.index(n) < rw.WINDOW for n in never)


@pytest.mark.parametrize("pairing", ["exact", "lsh"])
def test_scaling_job_runs_each_route(spark, tmp_path, pairing):
    """bench._scaling_job is otherwise first run inside a scaling
    recording; run its exact and LSH routes on a small table."""
    from deepblocker_spark.fixtures import repo_file_table

    bench = _bench()
    pdf, _ = repo_file_table(n_clusters=150, max_dups=5, seed=42)
    path = str(tmp_path / "repo_files.parquet")
    pdf.drop(columns=["_cluster"]).to_parquet(path)
    res = bench._scaling_job(spark, path, limit=300, rows_hint=300, pairing=pairing)
    assert res["pairing"] == pairing
    assert res["pairs"] > 0


def _record_scaling(monkeypatch, fresh):
    """tools/record_scaling.py loaded with bench._measure_scaling stubbed:
    each call returns the next of ``fresh`` (no Spark, no file written)."""
    import importlib.util

    path = os.path.join(_ROOT, "tools", "record_scaling.py")
    spec = importlib.util.spec_from_file_location("record_scaling", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    blocks = iter(fresh)
    monkeypatch.setattr(mod.bench, "_measure_scaling", lambda *a, **k: next(blocks))
    return mod


def test_record_scaling_keeps_skipped_block_marked(monkeypatch):
    mod = _record_scaling(monkeypatch, [{"efficiency": 0.8}])
    monkeypatch.setenv("SPARK_GRAFT_SKIP_SCALING_EXACT", "1")
    old_exact = {"efficiency": 0.5, "carried_from_previous_run": True}
    out = {
        "scaling": {"efficiency": 0.7, "carried_from_previous_run": True},
        "scaling_exact": dict(old_exact),
    }
    rec = mod.measure(out)
    # the measured block replaces the old one; the skipped one stays stale
    assert out == {"scaling": {"efficiency": 0.8}, "scaling_exact": old_exact}
    assert rec == {"source": "tools/record_scaling.py", "scaling": {"efficiency": 0.8}}


def test_record_scaling_records_every_measured_block(monkeypatch):
    fresh = [{"efficiency": 0.8, "carried_from_previous_run": True},
             {"efficiency": 0.6}]
    mod = _record_scaling(monkeypatch, fresh)
    monkeypatch.delenv("SPARK_GRAFT_SKIP_SCALING_EXACT", raising=False)
    out = {"scaling_exact": {"efficiency": 0.5, "carried_from_previous_run": True}}
    rec = mod.measure(out)
    assert out == {"scaling": {"efficiency": 0.8}, "scaling_exact": {"efficiency": 0.6}}
    assert rec == {"source": "tools/record_scaling.py", **out}


def test_bench_history_records_only_measured_blocks():
    # a run that measured `scaling` but skipped `scaling_exact` carries the
    # old exact block into BENCH.json, marked; the history record leaves
    # it out, and a run that measured no `scaling` writes no record
    bench = _bench()
    old_exact = {"efficiency": 0.5, "carried_from_previous_run": True}
    rec = bench._history_record({"scaling": {"efficiency": 0.8},
                                 "scaling_exact": old_exact})
    assert rec == {"source": "bench.py", "cpus": bench.CPUS, "sf": bench.SF_DIR,
                   "scaling": {"efficiency": 0.8}}
    both = {"scaling": {"efficiency": 0.8}, "scaling_exact": {"efficiency": 0.6}}
    assert bench._history_record(both) == {
        "source": "bench.py", "cpus": bench.CPUS, "sf": bench.SF_DIR, **both}
    assert bench._history_record({"scaling": dict(old_exact),
                                  "scaling_exact": old_exact}) is None
    assert bench._history_record({}) is None
