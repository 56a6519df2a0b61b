"""Round-6 measurement harness (guide §1) — separate from the FROZEN bench.py.

Per-query isolation with the noop sink (guide §1.4: eagerly computes every
column of every row, no sink cost, full plan in the SQL tab), job labels
(§1.5), and .explain("formatted") capture for plans/r06/.

Usage:
  python bench_extra.py time [query ...]      # noop-sink timing, min of N
  python bench_extra.py explain SUFFIX [q...] # plans/r06/<q>_SUFFIX.txt
  python bench_extra.py count [query ...]     # bench.py-style .count timing

Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_BENCH_REPEATS.
"""

from __future__ import annotations

import io
import contextlib
import json
import os
import sys
import time

os.environ.setdefault("NUMPY_MADVISE_HUGEPAGE", "0")
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "16")

DEFAULT_QUERIES = [
    "flagship_blocking", "topk_cosine", "topk_cosine_dyadic", "minhash_sig",
    "doc_profile", "q1_pricing", "events_hourly", "cc_components",
    "lsh_topk_emb", "ivf_topk_emb", "pq_topk_emb", "ivfpq_topk_emb",
    "sorted_neighborhood", "substring_dup_pairs", "semantic_dedup",
    "asof_click_purchase", "interval_join_events",
]


def _session():
    from deepblocker_spark.session import get_spark

    return get_spark(
        "bench-extra", master=f"local[{CPUS}]", shuffle_partitions=int(CPUS),
        extra_conf={"spark.ui.enabled": "true", "spark.ui.port": "4051"},
    )


def main():
    mode = sys.argv[1] if len(sys.argv) > 1 else "time"
    if mode == "explain":
        suffix = sys.argv[2]
        names = sys.argv[3:] or DEFAULT_QUERIES
    else:
        names = sys.argv[2:] or DEFAULT_QUERIES

    import __spark_entry__ as entrymod
    from bench import _warm_up
    from deepblocker_spark.operators.bc_registry import release_tracked

    spark = _session()
    qs = entrymod.queries()
    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))

    if mode == "explain":
        os.makedirs("plans/r06", exist_ok=True)
        for name in names:
            df = qs[name](spark, SF_DIR)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            path = f"plans/r06/{name}_{suffix}.txt"
            with open(path, "w") as f:
                f.write(buf.getvalue())
            release_tracked()
            print(f"# wrote {path}", file=sys.stderr)
        spark.stop()
        return

    _warm_up(spark)
    timings = {}
    for name in names:
        best = None
        for rep in range(repeats):
            spark.sparkContext.setJobDescription(f"{name} rep{rep}")
            t0 = time.perf_counter()
            df = qs[name](spark, SF_DIR)
            if mode == "count":
                n = df.count()
            else:
                df.write.format("noop").mode("overwrite").save()
                n = -1
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
            release_tracked()
        spark.sparkContext.setJobDescription(None)
        timings[name] = round(best, 3)
        print(f"# {name}: {timings[name]}s", file=sys.stderr)
    spark.stop()
    print(json.dumps({"mode": mode, "sf": SF_DIR, "cpus": CPUS,
                      "queries": timings,
                      "total": round(sum(timings.values()), 3)}))


if __name__ == "__main__":
    main()
