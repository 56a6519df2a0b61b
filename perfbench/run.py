"""Pipeline benchmark for the checkpointed blocking job.

Drives ``plans.checkpoint.run_blocking_pipeline`` -- the job
``python -m deepblocker_spark`` runs -- on seeded synthetic repo-file tables,
one complete job per run, runs back to back (a closed loop with one client:
one Python process, one Spark session at ``local[<usable cores>]``).

    python3 perfbench/run.py --workload dedup_exact --seed 1 --seconds 20 --trace 0

Run it from the repository root. The last stdout line is the result JSON
(``correct``, ``attempted``, ``failed``, ``metrics``); the line before it
holds provenance and per-run details. ``--trace 1`` reports per-layer
metrics from a traced run (see ``spans.py``) instead of end-to-end ones.
Workloads and metric definitions are described in ``README.md``.
"""

from __future__ import annotations

import argparse
import contextlib
import datetime
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback
from dataclasses import dataclass
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
COLS = ["repo", "path", "lang", "content"]
K = 10


SMALL_ROWS = 120  # --small: the benchmark's self-test size


@dataclass(frozen=True)
class Workload:
    rows: int  # the same for every seed: a run is mostly fixed cost
    lsh: bool  # lower the auto threshold below the table size -> LSH
    run_s: float  # one run's length on the reference host (README.md)
    min_f1: float  # quality floor of the output check

    def n_runs(self, seconds: float, trace: bool) -> int:
        """Timed runs in a window of ``seconds``. The count follows from the
        window and the reference run length, never from the speed of the
        code under test, so every commit's median covers the same runs."""
        # tracing needs an untraced run besides the first, which is slower
        return max(3 if trace else 1, round(seconds / self.run_s))


# Sizes keep one invocation (set-up, warm-up and timed runs) inside the
# benchmark's time budget on a 4-core host; README.md explains the choice.
WORKLOADS = {
    "dedup_lsh": Workload(4_500, lsh=True, run_s=14.0, min_f1=0.2),
    "dedup_exact": Workload(900, lsh=False, run_s=7.5, min_f1=0.9),
}


# -- environment ------------------------------------------------------------

def _git_sha() -> str | None:
    """HEAD of the checkout, if the checkout itself is a git work tree."""
    try:
        out = subprocess.run(
            ["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=ROOT,
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    lines = out.stdout.split()
    if out.returncode != 0 or len(lines) != 2 or Path(lines[0]).resolve() != ROOT:
        return None
    return lines[1]


def _source_sha() -> str:
    """Digest of the engine's sources: identifies the code when the
    checkout is not a git repository."""
    h = hashlib.sha256()
    for p in sorted((ROOT / "deepblocker_spark").rglob("*.py")):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def _ram_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def _driver_heap_mb(ram_mb: int) -> int:
    """A sixteenth of host RAM, within [1, 4] GiB: the engine's 12g default
    is most of a 16 GB host that other jobs share."""
    return max(1024, min(4096, ram_mb // 16))


def _prepare_env(work: Path) -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    ``work``; let the workers import the engine from this checkout."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))


def _steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over all CPUs,
    since boot. Recorded per run: it explains slow runs on a shared host."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


# -- process tree memory ----------------------------------------------------

def _process_table() -> dict[int, tuple[int, str]]:
    """pid -> (parent pid, command name) of every process."""
    table = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        comm = stat[stat.index("(") + 1:stat.rindex(")")]
        table[int(entry)] = (int(stat[stat.rindex(")") + 2:].split()[1]), comm)
    return table


def _descendants(root_pid: int, table: dict | None = None) -> list[int]:
    table = _process_table() if table is None else table
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], list(children.get(root_pid, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _jvm_and_workers(root_pid: int) -> list[int]:
    """The driver JVM (a direct child) and the Python daemon and workers
    under it. Short-lived helpers the JVM forks are left out: until they
    exec, /proc reports the JVM's own pages for them too."""
    table = _process_table()
    return [
        pid for pid in _descendants(root_pid, table)
        if table[pid][1].startswith("python")
        or (table[pid][1] == "java" and table[pid][0] == root_pid)
    ]


def _rss_mb(pids: list[int]) -> list[float]:
    """Resident MB of each of ``pids`` still alive."""
    page = os.sysconf("SC_PAGE_SIZE")
    out = []
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                out.append(int(f.read().split()[1]) * page / 1e6)
        except OSError:
            continue
    return out


class RssSampler:
    """Peak summed RSS of this process's descendants (the driver JVM and
    its Python workers), read from /proc every 50 ms."""

    def __init__(self):
        self.peak_mb = 0.0
        self.peak_parts: list[float] = []  # per-process MB at the peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        me = os.getpid()
        while not self._stop.is_set():
            parts = _rss_mb(_jvm_and_workers(me))
            if sum(parts) > self.peak_mb:
                self.peak_mb, self.peak_parts = sum(parts), sorted(parts, reverse=True)
            self._stop.wait(0.05)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


# -- inputs -----------------------------------------------------------------

def make_input(rows: int, seed: int, path: Path):
    """Write the first ``rows`` rows of the seeded table to parquet (without
    its golden column) and return the golden undirected id pairs as a
    pandas frame. A cluster has 3 rows on average, so ``rows // 2`` clusters
    always give enough rows; the row count then does not vary with the seed,
    and neither does ``rows_per_s`` through it."""
    import pandas as pd

    from deepblocker_spark.fixtures import repo_file_table

    pdf, _ = repo_file_table(n_clusters=rows // 2, max_dups=5, seed=seed)
    if len(pdf) < rows:
        raise RuntimeError(f"seed {seed} gave {len(pdf)} rows, fewer than {rows}")
    pdf = pdf.iloc[:rows]
    pdf.drop(columns=["_cluster"]).to_parquet(path)
    # the durable id load_repo_table derives: sha256(repo␟path␟commit)
    ids = [
        hashlib.sha256("\x1f".join(t).encode()).hexdigest()
        for t in zip(pdf["repo"], pdf["path"], pdf["commit"])
    ]
    keyed = pd.DataFrame({"id": ids, "c": pdf["_cluster"]})
    pairs = keyed.merge(keyed, on="c")
    pairs = pairs[pairs["id_x"] < pairs["id_y"]]
    golden = pd.DataFrame({"l_id": pairs["id_x"].to_numpy(), "r_id": pairs["id_y"].to_numpy()})
    return golden


# -- one job ----------------------------------------------------------------

def fingerprints(ckpt) -> dict:
    """(rows, content fingerprint, pairing) of each stage from its manifest."""
    from spans import STAGES

    out = {}
    for stage in STAGES:
        man = ckpt.manifest(stage)
        out[stage] = None if man is None else [
            man["rows"], man["content_fingerprint"],
            (man.get("params") or {}).get("pairing"),
        ]
    return out


def check_outputs(got: dict, want: dict, n_clusters_rows: int) -> list[str]:
    """Differences between a run's checkpoints and the set-up run's."""
    problems = [
        f"{stage}: {got.get(stage)} != {ref}"
        for stage, ref in want.items() if got.get(stage) != ref
    ]
    if want.get("clusters") and n_clusters_rows != want["clusters"][0]:
        problems.append(f"clusters count {n_clusters_rows} != {want['clusters'][0]}")
    return problems


def verify_all(ckpt) -> list[str]:
    """Stages whose data no longer matches their manifest:
    ``CheckpointManager.verify`` re-derives each fingerprint from the data."""
    from spans import STAGES

    return [f"{stage}: CheckpointManager.verify failed"
            for stage in STAGES if not ckpt.verify(stage)]


class Job:
    """The pipeline on one input, with the workload's pairing set-up."""

    def __init__(self, spark, wl: Workload, rows: int, src, work: Path):
        from deepblocker_spark.config import BlockerConfig

        self.spark, self.src, self.work = spark, src, work
        # a threshold below the row count sends 'auto' to LSH; otherwise
        # the default keeps it exact
        self.cfg = BlockerConfig(
            emb_dim=64, top_k=K,
            **({"pairing_lsh_threshold_rows": rows // 2} if wl.lsh else {}),
        )

    def _pipeline(self, ckpt):
        from deepblocker_spark.plans.checkpoint import run_blocking_pipeline

        return run_blocking_pipeline(self.spark, self.src, ckpt, COLS, k=K, config=self.cfg)

    def build(self):
        """The set-up run: a full job into a fresh checkpoint directory."""
        from deepblocker_spark.plans.checkpoint import CheckpointManager

        ckpt = CheckpointManager(self.spark, str(self.work / "ref"))
        self._pipeline(ckpt).count()
        return ckpt

    def timed(self):
        """One timed run into a fresh checkpoint directory -> (wall seconds,
        checkpoint manager, clusters count). Clean-up is outside the timing."""
        from deepblocker_spark.plans.checkpoint import CheckpointManager

        d = self.work / "run"
        shutil.rmtree(d, ignore_errors=True)
        ckpt = CheckpointManager(self.spark, str(d))
        t0 = time.perf_counter()
        n = self._pipeline(ckpt).count()
        return time.perf_counter() - t0, ckpt, n


def quality(spark, ckpt, golden_pdf) -> dict:
    """Pairwise F1 of the clusters and recall of the candidates against the
    golden pairs (both normalised to undirected pairs by pairwise_f1)."""
    from pyspark.sql import functions as F

    from deepblocker_spark.operators.cluster import clusters_to_pairs
    from deepblocker_spark.operators.metrics import pairwise_f1

    golden = spark.createDataFrame(golden_pdf)
    clusters = spark.read.parquet(str(Path(ckpt.base_dir) / "clusters" / "data.parquet"))
    pred = clusters_to_pairs(clusters).select(
        F.col("a").alias("l_id"), F.col("b").alias("r_id")
    )
    f1 = pairwise_f1(pred, golden).collect()[0]
    cands = spark.read.parquet(str(Path(ckpt.base_dir) / "candidates" / "data.parquet"))
    cr = pairwise_f1(cands.select("l_id", "r_id"), golden).collect()[0]
    return {
        "pair_f1": float(f1["f1"]),
        "precision": float(f1["precision"]),
        "cand_recall": float(cr["recall"]),
        "cand_true_ratio": float(cr["precision"]),
    }


# -- session ----------------------------------------------------------------

def start_spark(cores: int, heap_mb: int):
    from deepblocker_spark.session import get_spark

    spark = get_spark(
        "perfbench", master=f"local[{cores}]",
        extra_conf={
            "spark.driver.memory": f"{heap_mb}m",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait until the JVM
    and every Python worker under it have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None or getattr(gateway, "proc", None) is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc.stdin.close()  # the gateway exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while _descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in _descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    deadline = time.monotonic() + 10
    while _descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)


def _held(sc) -> tuple[int, int]:
    """(persisted RDDs, tracked broadcasts) currently held."""
    from deepblocker_spark.operators import bc_registry

    return sc._jsc.getPersistentRDDs().size(), len(bc_registry._TRACKED)


# -- the benchmark ----------------------------------------------------------

def timed_loop(job, want: dict, tracer, n_runs: int, trace: bool):
    """``n_runs`` runs back to back; with ``trace`` the last one is traced,
    and then ``CheckpointManager.verify`` checks its four checkpoints
    against their manifests, outside the timing (the ``ckpt.verify`` span;
    untraced invocations skip it to save time). -> (per-run records,
    per-layer dict of the traced run or None)."""
    runs, layers = [], None
    sc = job.spark.sparkContext
    for i in range(n_runs):
        traced = trace and i == n_runs - 1
        held0 = _held(sc)
        steal0 = _steal_s()
        rec = {"traced": traced}
        if traced:
            tracer.install()
        try:
            with tracer.run_span() if traced else contextlib.nullcontext():
                wall, ckpt, n = job.timed()
            got = fingerprints(ckpt)
            rec["wall_s"] = wall
            rec["problems"] = check_outputs(got, want, n)
            if traced:
                rec["problems"] += verify_all(ckpt)
                layers = {
                    **tracer.report(),
                    "ckpt.candidates.rows": got["candidates"][0],
                    "ckpt.scored.rows": got["scored"][0],
                }
        except Exception:
            rec["problems"] = ["raised: " + traceback.format_exc(limit=3)]
        finally:
            if traced:
                tracer.uninstall()
        rec["ok"] = not rec["problems"]
        held1 = _held(sc)
        rec["leaked_rdds"] = held1[0] - held0[0]
        rec["leaked_bc"] = held1[1] - held0[1]
        rec["steal_s"] = _steal_s() - steal0
        runs.append(rec)
    return runs, layers


def _median(values, default=0.0) -> float:
    values = list(values)
    return statistics.median(values) if values else default


def layer_metrics(runs: list, layers: dict, want: dict, qual: dict) -> dict:
    """Every per-layer metric: span metrics of the traced run, output ratios
    from the set-up run, leaks over all runs, and the tracing overhead."""
    from spans import LAYER_METRICS

    # the first timed run is still slower than later ones: leave it out
    untraced = [r["wall_s"] for r in runs[1:] if r["ok"] and not r["traced"]]
    traced = runs[-1]["wall_s"] if runs[-1]["ok"] else None
    cand_rows, scored_rows = want["candidates"][0], want["scored"][0]
    extra = {
        "scoring.keep_ratio": scored_rows / cand_rows if cand_rows else 0.0,
        "cand.true_ratio": qual["cand_true_ratio"],
        "cluster.leaked_rdds": _median(r["leaked_rdds"] for r in runs),
        "bc.leaked": _median(r["leaked_bc"] for r in runs),
        "trace.overhead_s": (
            traced - _median(untraced) if traced is not None and untraced else 0.0),
    }
    return {
        name: (extra[name] if name in extra else (layers or {}).get(name, 0.0), unit)
        for name, unit in LAYER_METRICS
    }


def bench(args, work: Path, t_start: float, started_at: float) -> tuple[dict, dict]:
    """Set up, warm up, run the timed loop -> (details, result line)."""
    from spans import Tracer

    wl = WORKLOADS[args.workload]
    rows = SMALL_ROWS if args.small else wl.rows
    n_runs = wl.n_runs(args.seconds, bool(args.trace))
    cores = len(os.sched_getaffinity(0))
    ram = _ram_mb()
    heap = _driver_heap_mb(ram)

    t0 = time.perf_counter()
    spark = start_spark(cores, heap)
    session_s = time.perf_counter() - t0
    sc = spark.sparkContext
    detail = {
        "provenance": {
            "workload": args.workload, "seed": args.seed, "traced": bool(args.trace),
            "small": args.small, "seconds": args.seconds, "runs": n_runs,
            "started_at": datetime.datetime.fromtimestamp(
                started_at, datetime.timezone.utc).isoformat(),
            "cores": cores, "ram_mb": ram, "driver_heap_mb": heap,
            "spark": spark.version,
            "java": sc._jvm.System.getProperty("java.version"),
            "python": platform.python_version(),
            "git_sha": _git_sha(), "source_sha": _source_sha(),
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        },
    }
    try:
        from deepblocker_spark.sources.repo_files import load_repo_table

        t0 = time.perf_counter()
        path = work / "input.parquet"
        golden = make_input(rows, args.seed, path)
        src = load_repo_table(spark, str(path))
        prep_s = time.perf_counter() - t0

        # set-up run: warms the JVM and the Python workers and yields the
        # reference fingerprints
        job = Job(spark, wl, rows, src, work)
        t0 = time.perf_counter()
        ckpt_ref = job.build()
        warmup_s = time.perf_counter() - t0
        want = fingerprints(ckpt_ref)
        setup_s = time.perf_counter() - t_start
        detail["setup"] = {"rows": rows, "session_s": session_s, "prep_s": prep_s,
                           "warmup_s": warmup_s, "setup_s": setup_s,
                           "reference": want}

        # quality is a function of the set-up run's output, which every
        # timed run must reproduce; it is computed outside all timing
        qual = quality(spark, ckpt_ref, golden)
        detail["quality"] = qual
        problems = []
        expected_mode = "lsh" if wl.lsh else "exact"
        if want["candidates"][2] != expected_mode:
            problems.append(f"pairing {want['candidates'][2]} != {expected_mode}")
        if qual["pair_f1"] < wl.min_f1:
            problems.append(f"pair_f1 {qual['pair_f1']} < {wl.min_f1}")
        detail["problems"] = problems

        with RssSampler() as rss:
            runs, layers = timed_loop(job, want, Tracer(sc), n_runs, bool(args.trace))
        detail["runs"] = runs
        detail["peak_rss_parts_mb"] = [round(x, 1) for x in rss.peak_parts]
        failed = sum(not r["ok"] for r in runs)

        if args.trace:
            metrics = layer_metrics(runs, layers, want, qual)
        else:
            walls = [r["wall_s"] for r in runs if r["ok"]]
            metrics = {
                "setup_s": (setup_s, "s"),
                "rows_per_s": (_median(rows / w for w in walls), "rows/s"),
                "pair_f1": (qual["pair_f1"], "ratio"),
                "cand_recall": (qual["cand_recall"], "ratio"),
                "peak_rss_mb": (rss.peak_mb, "MB"),
            }
        result = {
            "correct": failed == 0 and not problems,
            "attempted": len(runs),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        return detail, result
    finally:
        stop_spark(spark)


def main(argv: list[str] | None = None) -> int:
    started_at, t_start = time.time(), time.perf_counter()
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--small", action="store_true",
                   help="tiny inputs, for the benchmark's own test")
    args = p.parse_args(argv)
    if not (ROOT / "deepblocker_spark" / "__init__.py").is_file():
        print(f"perfbench: no deepblocker_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    try:
        _prepare_env(work)
        detail, result = bench(args, work, t_start, started_at)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            (ROOT / ".perfbench_work").rmdir()
        except OSError:
            pass
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
