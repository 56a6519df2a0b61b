"""Record ONLY the scaling evidence into BENCH.json, preserving the rest
of the artifact from the last full bench run.

The full bench suite burns ~5 minutes before the scaling rounds start; on
this host, calm bus phases (STREAM-triad 2->8-core speedup >= 2.3x) last
minutes, not hours — this runner spends the whole window on the
measurement that needs it. Usage:

    python tools/record_scaling.py            # 240k LSH + 40k exact
    SPARK_GRAFT_SCALING_REPEATS=4 python tools/record_scaling.py
    SPARK_GRAFT_SKIP_SCALING_EXACT=1 python tools/record_scaling.py

The last form measures only the 240k LSH block: ``scaling_exact`` keeps
its previous BENCH.json content and carried marker, and the
SCALING_HISTORY.jsonl record holds only what this run measured.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


def measure(out: dict) -> dict:
    """Measure the scaling blocks into ``out`` (BENCH.json's content,
    edited in place) -> the SCALING_HISTORY.jsonl record. Only the blocks
    this run measures lose the ``carried_from_previous_run`` marker and
    enter the record; ``scaling_exact`` skipped by
    SPARK_GRAFT_SKIP_SCALING_EXACT=1 stays as BENCH.json had it, marker
    included, and is left out of the record."""
    measured = {"scaling": bench._measure_scaling()}
    if os.environ.get("SPARK_GRAFT_SKIP_SCALING_EXACT") != "1":
        measured["scaling_exact"] = bench._measure_scaling(40_000, max_rounds_override=3)
    for block in measured.values():
        block.pop("carried_from_previous_run", None)
    out.update(measured)
    return {"source": "tools/record_scaling.py", **measured}


def main() -> None:
    bench_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCH.json"
    )
    with open(bench_path) as f:
        out = json.load(f)
    rec = measure(out)
    with open(bench_path, "w") as f:
        json.dump(out, f, indent=1)
    hist_path = os.path.join(os.path.dirname(bench_path), "SCALING_HISTORY.jsonl")
    with open(hist_path, "a") as f:
        f.write(json.dumps(rec) + "\n")
    print(json.dumps({k: rec[k].get("efficiency") for k in rec if k != "source"}))
    print(f"# scaling recorded -> {bench_path}", file=sys.stderr)


if __name__ == "__main__":
    main()
