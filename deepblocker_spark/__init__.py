"""deepblocker_spark — a PySpark-native blocking / pairwise-scoring /
transitive-clustering engine with the capabilities of qcri/DeepBlocker
(reference at /root/reference, studied not ported; see SURVEY.md)."""

import os as _os

# numpy >= 1.18 madvises MADV_HUGEPAGE on large allocations; on some kernels
# (including this environment) hugepage faulting runs ~300x slower than base
# pages (measured: 23s vs 0.07s for a 138MB fill). Must be set before numpy
# is imported anywhere in the process.
_os.environ.setdefault("NUMPY_MADVISE_HUGEPAGE", "0")

# Import-light: Spark starts its Python worker daemon as
# ``python -m deepblocker_spark.worker_daemon``, which runs this file before
# the daemon module; nothing here may import pyspark. The public names
# load on first access (PEP 562).
_EXPORTS = {
    "BlockerConfig": "config",
    "DEFAULT_CONFIG": "config",
    "TEST_CONFIG": "config",
    "DeepBlocker": "pipeline",
    "SparkAverageEmbedding": "pipeline",
    "SparkAutoEncoderEmbedding": "pipeline",
    "SparkCTTEmbedding": "pipeline",
    "SparkHybridEmbedding": "pipeline",
    "SparkSIFEmbedding": "pipeline",
    "ExactTopKVectorPairing": "operators.topk",
    "LSHVectorPairing": "operators.lsh",
    "IVFVectorPairing": "operators.ann",
    "PQVectorPairing": "operators.pq",
}

__all__ = list(_EXPORTS)


def __getattr__(name: str):
    module = _EXPORTS.get(name)
    if module is None:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    from importlib import import_module

    value = getattr(import_module(f"{__name__}.{module}"), name)
    globals()[name] = value
    return value
