"""SparkSession factory with the engine's standard configuration.

Arrow execution, AQE (incl. skew-join handling), and sane shuffle sizing are
on by default — these are the free wins SURVEY.md §4 calls out. The
defaults come from the host: one task slot per core this process may run
on, and a driver heap of a quarter of physical RAM (at most 12g). All
values can be overridden (arguments, ``SPARK_GRAFT_*`` variables or
``extra_conf``), as the scaling protocol does (BASELINE.md).

On a ``local[...]`` master, when the package was imported from a directory
the Python workers also see (the cwd, a ``PYTHONPATH`` entry or
site-packages), Spark's Python daemon starts as
``deepblocker_spark.worker_daemon``: the workers then import the installed
pyspark instead of ``$SPARK_HOME``'s zip and jar, whose finders cost every
Python task 0.23-0.29 s on a 4-core host (see that module). A package
shipped in an archive (``spark-submit --py-files``) or a non-local master
keeps ``pyspark.daemon``; ``extra_conf`` can set
``spark.python.daemon.module`` either way.
"""

from __future__ import annotations

import os
import site

from pyspark.sql import SparkSession

import deepblocker_spark


def _host_driver_memory() -> str:
    """A quarter of physical RAM (MemTotal), at most 12g: the driver JVM
    holds every task's execution memory, broadcast and cached frame in
    local mode, but the host's other processes need the rest."""
    ram_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") >> 20
    return f"{min(12 << 10, ram_mb // 4)}m"


def _workers_import_package() -> bool:
    """The package was imported from a directory on the local workers'
    import path: the cwd, a ``PYTHONPATH`` entry or site-packages (a
    package inside an archive is not a directory)."""
    root = os.path.dirname(os.path.dirname(os.path.realpath(deepblocker_spark.__file__)))
    if not os.path.isdir(root):
        return False
    seen = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep),
            *site.getsitepackages(), site.getusersitepackages()]
    return root in {os.path.realpath(p) for p in seen if p}


def get_spark(
    app_name: str = "deepblocker-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    arrow_max_records: int = 10_000,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if master is None:
        # one task slot per core this process may run on
        cpus = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

    # numpy's MADV_HUGEPAGE is pathologically slow on this kernel (see
    # deepblocker_spark/__init__.py). The JVM must carry the var so its
    # forked python workers inherit it before they import numpy.
    os.environ.setdefault("NUMPY_MADVISE_HUGEPAGE", "0")
    # One BLAS thread per python worker: Spark already parallelizes across
    # workers; letting every worker spin up a full OpenBLAS thread pool
    # oversubscribes cores quadratically (measured local[32] 2x SLOWER than
    # local[8] on the matmul-heavy top-K join before this).
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Arrow-vectorized pandas UDF transfer (input_hint: no per-row Python)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_max_records))
        # AQE: runtime coalescing, skew-join splitting (SURVEY.md §4 skew row)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # One heap holds every concurrent task's execution memory, every
        # broadcast relation and all cached frames (an 8g heap at local[32]
        # died in a GC-adjacent BlockInfoManager/TorrentBroadcast storm,
        # VERDICT r5 #1/#2, hence up to 12g), but a fixed 12g is most of a
        # 16 GB host: sized from RAM, env-overridable.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _host_driver_memory(),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.executorEnv.NUMPY_MADVISE_HUGEPAGE", "0")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
        # Two JVM fixes for this environment, found the hard way:
        # (1) ReservedCodeCacheSize: the default 48-240MB code cache fills
        #     under Spark's per-query generated classes, HotSpot then
        #     DISABLES the JIT ("CodeCache is full. Compiler has been
        #     disabled") and every stage runs interpreted — the source of
        #     10-40x run-to-run slowdowns observed while profiling.
        # (2) TieredStopAtLevel=1 (C1 only): C2 compile storms never
        #     amortize for short-lived local jobs here (40s -> 3.7s
        #     first-run for an identical query). Drop on a real cluster.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=512m",
        )
        .config(
            "spark.executor.extraJavaOptions",
            "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=512m",
        )
    )
    if (master == "local" or master.startswith("local[")) and _workers_import_package():
        builder = builder.config(
            "spark.python.daemon.module", "deepblocker_spark.worker_daemon"
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
