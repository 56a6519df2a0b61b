"""Span tracing for the pipeline benchmark, recorded from outside the engine.

A ``Tracer`` wraps public functions of the engine's modules (see ``SPANS``)
so each call opens a span: name, parent, start and end. Every span sets its
own Spark job group, so after a run the tracer reads, from Spark's status
store, the jobs, stages and task metrics launched while that span was the
innermost one. The Spark UI stays disabled; nothing polls a port.

Counters of a span (jobs, tasks, task and CPU time, shuffle, spill, idle)
are *self* counters: jobs launched inside a child span belong to the child.
``wall_s`` is inclusive, ``self_s`` excludes the time child spans cover, and
``idle_s`` is the part of ``self_s`` during which none of the span's own jobs
was running (driver-side time).
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

#: (module, attribute path, span name or None = "ckpt.<stage name>").
#: Every workload enters every span: the exact top-K and the LSH candidate
#: generator share ``pair.plan``, since a workload runs one of them, and a
#: span no workload enters would report a constant 0 s. ``ckpt.verify`` is a
#: root span of its own: the benchmark verifies the traced run's checkpoints
#: after the run, outside its timing.
SPANS = [
    ("deepblocker_spark.plans.checkpoint", "CheckpointManager.stage", None),
    ("deepblocker_spark.plans.checkpoint", "CheckpointManager.verify", "ckpt.verify"),
    ("deepblocker_spark.plans.checkpoint", "partition_stats", "ckpt.stats"),
    ("deepblocker_spark.pipeline", "SparkSIFEmbedding.preprocess", "embed.fit"),
    ("deepblocker_spark.operators.embed", "compute_top_principal_component", "embed.pc"),
    ("deepblocker_spark.operators.topk", "exact_topk_join", "pair.plan"),
    ("deepblocker_spark.operators.lsh", "lsh_candidates", "pair.plan"),
    ("deepblocker_spark.operators.cluster", "connected_components", "cluster.cc"),
]
STAGES = ["embeddings", "candidates", "scored", "clusters"]
SPAN_NAMES = list(dict.fromkeys(
    ["run"] + [f"ckpt.{s}" for s in STAGES]
    + [name for _, _, name in SPANS if name is not None]
))
SUFFIXES = {
    "wall_s": "s", "self_s": "s", "jobs": "count", "tasks": "count",
    "task_s": "s", "cpu_s": "s", "shuffle_mb": "MB", "spill_mb": "MB",
    "idle_s": "s",
}


@dataclass
class Span:
    name: str
    group: str
    parent: "Span | None"
    start: float
    end: float = 0.0
    children: list["Span"] = field(default_factory=list)


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def _gaps(lo: float, hi: float, holes: list[tuple[float, float]]) -> list[tuple[float, float]]:
    """[lo, hi] minus the union of ``holes``, as sorted disjoint intervals."""
    out, cur = [], lo
    for a, b in sorted(holes):
        if a > cur:
            out.append((cur, min(a, hi)))
        cur = max(cur, b)
        if cur >= hi:
            break
    if cur < hi:
        out.append((cur, hi))
    return [(a, b) for a, b in out if b > a]


class Tracer:
    """Records spans of one run. ``install()`` wraps the ``SPANS`` functions,
    ``uninstall()`` restores them; ``run_span()`` opens the run's root span
    and ``report()`` turns the spans finished since into per-name metrics."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []
        self._seq = 0

    # -- span bookkeeping -------------------------------------------------
    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._seq += 1
        sp = Span(name, f"perfbench-{self._seq}-{name}", parent, time.time())
        if parent is not None:
            parent.children.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp.group, name)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            self.spans.append(sp)
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def run_span(self):
        self.spans = []
        return self.span("run")

    def _wrapped(self, fn, name):
        tracer = self

        @functools.wraps(fn)
        def inner(*args, **kwargs):
            # CheckpointManager.stage(self, name, ...): one span per stage
            span_name = name or f"ckpt.{args[1] if len(args) > 1 else kwargs['name']}"
            with tracer.span(span_name):
                return fn(*args, **kwargs)

        return inner

    def install(self) -> None:
        import importlib

        for mod_name, path, name in SPANS:
            owner = importlib.import_module(mod_name)
            *outer, attr = path.split(".")
            for part in outer:
                owner = getattr(owner, part)
            orig = owner.__dict__[attr]
            self._patched.append((owner, attr, orig))
            setattr(owner, attr, self._wrapped(orig, name))

    def uninstall(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    # -- reading Spark's status store -------------------------------------
    def _group_metrics(self, group: str) -> tuple[dict, list[tuple[float, float]]]:
        """Self counters of one span's job group and its jobs' intervals."""
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        m = {k: 0.0 for k in ("jobs", "tasks", "task_s", "cpu_s", "shuffle_mb", "spill_mb")}
        intervals = []
        for job_id in tracker.getJobIdsForGroup(group):
            jd = store.job(job_id)
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
            m["jobs"] += 1
            info = tracker.getJobInfo(job_id)
            for stage_id in info.stageIds if info else []:
                try:
                    sd = store.lastStageAttempt(stage_id)
                except Py4JJavaError:  # stage evicted or never submitted
                    continue
                m["tasks"] += sd.numCompleteTasks()
                m["task_s"] += sd.executorRunTime() / 1e3
                m["cpu_s"] += sd.executorCpuTime() / 1e9
                m["shuffle_mb"] += sd.shuffleWriteBytes() / 1e6
                m["spill_mb"] += sd.diskBytesSpilled() / 1e6
        return m, intervals

    def report(self) -> dict[str, float]:
        """Per-span-name sums over this run: every ``SPAN_NAMES`` x
        ``SUFFIXES`` metric, 0 for spans the run never entered."""
        # the status store is fed asynchronously by the listener bus
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        out = {f"{n}.{s}": 0.0 for n in SPAN_NAMES for s in SUFFIXES}
        for sp in self.spans:
            counters, job_iv = self._group_metrics(sp.group)
            child_iv = [(c.start, c.end) for c in sp.children]
            wall = sp.end - sp.start
            self_s = wall - _covered(child_iv, sp.start, sp.end)
            idle = sum(
                (b - a) - _covered(job_iv, a, b)
                for a, b in _gaps(sp.start, sp.end, child_iv)
            )
            vals = {"wall_s": wall, "self_s": self_s, "idle_s": idle, **counters}
            for suffix, v in vals.items():
                key = f"{sp.name}.{suffix}"
                if key in out:
                    out[key] += v
        return out


#: every per-layer metric the traced run reports, in order, with its unit;
#: the span metrics first, then counts taken from outputs and resources
LAYER_METRICS = [
    (f"{name}.{suffix}", unit) for name in SPAN_NAMES for suffix, unit in SUFFIXES.items()
] + [
    ("ckpt.candidates.rows", "count"),
    ("ckpt.scored.rows", "count"),
    ("scoring.keep_ratio", "ratio"),
    ("cand.true_ratio", "ratio"),
    ("cluster.leaked_rdds", "count"),
    ("bc.leaked", "count"),
    ("trace.overhead_s", "s"),
]
