"""Start module for Spark's Python worker daemon (``spark.python.daemon.module``).

PySpark's worker calls ``importlib.invalidate_caches()`` once per task
(``worker_util.setup_spark_files``). On Python 3.11 every cached
``zipimporter`` then re-reads its archive's central directory, and Spark
puts ``$SPARK_HOME/python/lib/pyspark.zip``, the py4j zip and the
spark-core jar (15 MB) first on the worker path: a worker that imported
pyspark from the zip holds one finder per imported pyspark subpackage plus
the jar's, and paid 0.23-0.29 s per task for them on a 4-core host.

When an installed pyspark outside those archives has the same
``pyspark/version.py`` as ``pyspark.zip`` (and py4j is installed too), this
module drops Spark's archives from ``sys.path`` and their finders from
``sys.path_importer_cache`` before anything imports pyspark, so the daemon
and the workers it forks import the installed copy. Otherwise it leaves the
path alone. Either way it then runs ``pyspark.daemon.manager()``.

Spark starts it as ``python -m deepblocker_spark.worker_daemon <worker
module>``; ``session.get_spark`` selects it for local masters. It imports
nothing of the engine: the package ``__init__`` is import-light.
"""

from __future__ import annotations

import os
import sys
import zipfile
from importlib.machinery import PathFinder

_VERSION_FILE = "pyspark/version.py"


def _spark_archives(path: list[str], spark_home: str | None) -> list[str]:
    """Entries of ``path`` that are .zip or .jar files under ``spark_home``."""
    if not spark_home:
        return []
    home = os.path.join(os.path.realpath(spark_home), "")
    return [
        p for p in path
        if p.endswith((".zip", ".jar")) and os.path.realpath(p).startswith(home)
    ]


def _zipped_version(archives: list[str]) -> bytes | None:
    for archive in archives:
        try:
            with zipfile.ZipFile(archive) as zf:
                return zf.read(_VERSION_FILE)
        except (OSError, KeyError, zipfile.BadZipFile):
            continue
    return None


def worker_path(path: list[str], spark_home: str | None) -> list[str]:
    """``path`` without Spark's archives, when the rest of ``path`` finds
    py4j and a pyspark package directory whose ``version.py`` equals the
    one in Spark's ``pyspark.zip``; otherwise ``path`` unchanged. Archives
    outside ``spark_home`` (``--py-files``) are always kept."""
    archives = _spark_archives(path, spark_home)
    if not archives:
        return list(path)
    kept = [p for p in path if p not in archives]
    spec = PathFinder.find_spec("pyspark", kept)
    if (spec is None or not spec.submodule_search_locations
            or PathFinder.find_spec("py4j", kept) is None):
        return list(path)
    pkg_dir = next(iter(spec.submodule_search_locations))
    try:
        with open(os.path.join(pkg_dir, "version.py"), "rb") as f:
            installed = f.read()
    except OSError:
        return list(path)
    return kept if installed == _zipped_version(archives) else list(path)


def _drop(archives: set[str]) -> None:
    """Remove ``archives`` from ``sys.path`` and every finder cached for
    them or for a package directory inside them."""
    sys.path[:] = [p for p in sys.path if p not in archives]
    for key in list(sys.path_importer_cache):
        if any(key == a or key.startswith(a + os.sep) for a in archives):
            del sys.path_importer_cache[key]


def main() -> None:
    if "pyspark" not in sys.modules:
        kept = worker_path(sys.path, os.environ.get("SPARK_HOME"))
        _drop(set(sys.path) - set(kept))
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
