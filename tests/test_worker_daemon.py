"""The engine's Python worker daemon: which import path it gives the
workers (fake Spark homes, no JVM) and what a real worker imports."""

from __future__ import annotations

import os
import sys
import zipfile

import pandas as pd
import pytest

from deepblocker_spark import worker_daemon


def _zip(path, files: dict[str, str]) -> str:
    with zipfile.ZipFile(path, "w") as zf:
        for name, text in files.items():
            zf.writestr(name, text)
    return str(path)


def _version(v: str) -> str:
    return f'__version__: str = "{v}"\n'


@pytest.fixture
def spark_home(tmp_path):
    """-> (home, archives): a Spark home whose pyspark.zip is 4.1.2, with
    a py4j zip and a jar, as Spark puts them on the worker path."""
    home = tmp_path / "spark"
    (home / "python" / "lib").mkdir(parents=True)
    (home / "jars").mkdir()
    archives = [
        _zip(home / "python" / "lib" / "pyspark.zip",
             {"pyspark/__init__.py": "", "pyspark/version.py": _version("4.1.2")}),
        _zip(home / "python" / "lib" / "py4j-src.zip", {"py4j/__init__.py": ""}),
        _zip(home / "jars" / "spark-core.jar", {"META-INF/MANIFEST.MF": ""}),
    ]
    return str(home), archives


def _site(tmp_path, version: str | None, py4j: bool = True) -> str:
    """A site-packages directory with an installed pyspark of ``version``
    (none when ``version`` is None) and, when ``py4j``, py4j."""
    site = tmp_path / "site"
    site.mkdir()
    if version is not None:
        (site / "pyspark").mkdir()
        (site / "pyspark" / "__init__.py").write_text("")
        (site / "pyspark" / "version.py").write_text(_version(version))
    if py4j:
        (site / "py4j").mkdir()
        (site / "py4j" / "__init__.py").write_text("")
    return str(site)


def test_drops_spark_archives_for_the_same_installed_version(spark_home, tmp_path):
    home, archives = spark_home
    site = _site(tmp_path, "4.1.2")
    py_files = _zip(tmp_path / "deps.zip", {"dep/__init__.py": ""})
    path = [str(tmp_path), *archives, py_files, site]
    assert worker_daemon.worker_path(path, home) == [str(tmp_path), py_files, site]


def test_spark_home_compared_by_real_path(spark_home, tmp_path):
    home, archives = spark_home
    site = _site(tmp_path, "4.1.2")
    link = tmp_path / "spark-link"
    link.symlink_to(home)
    assert worker_daemon.worker_path([*archives, site], str(link)) == [site]


@pytest.mark.parametrize(
    "version, py4j",
    [("4.0.0", True), (None, True), ("4.1.2", False)],
    ids=["versions_differ", "no_installed_pyspark", "no_installed_py4j"],
)
def test_keeps_spark_archives_without_a_matching_install(spark_home, tmp_path, version, py4j):
    home, archives = spark_home
    path = [*archives, _site(tmp_path, version, py4j)]
    assert worker_daemon.worker_path(path, home) == path


def test_never_drops_archives_outside_spark_home(tmp_path):
    py_files = _zip(tmp_path / "deps.zip", {"pyspark/version.py": _version("4.1.2")})
    path = [py_files, _site(tmp_path, "4.1.2")]
    assert worker_daemon.worker_path(path, str(tmp_path / "spark")) == path
    assert worker_daemon.worker_path(path, None) == path


def test_drop_removes_subpackage_finders(monkeypatch):
    archive = "/spark/python/lib/pyspark.zip"
    monkeypatch.setattr(sys, "path", ["/site", archive, "/spark/jars/core.jar"])
    monkeypatch.setattr(sys, "path_importer_cache", {
        "/site": 1, archive: 2, f"{archive}/pyspark/sql": 3,
        "/spark/jars/core.jar": 4, f"{archive}.bak": 5,
    })
    worker_daemon._drop({archive, "/spark/jars/core.jar"})
    assert sys.path == ["/site"]
    assert sys.path_importer_cache == {"/site": 1, f"{archive}.bak": 5}


def test_workers_import_the_installed_pyspark(spark):
    """Each worker of the test session imports pyspark from outside
    $SPARK_HOME and holds no finder for a path under it."""
    import pyspark

    home = os.environ.get("SPARK_HOME")
    if not home or os.path.realpath(pyspark.__file__).startswith(os.path.realpath(home)):
        pytest.skip("pyspark is not installed outside $SPARK_HOME")

    def report(batches):
        import pyspark as worker_pyspark

        for _ in batches:
            pass
        under = os.path.join(os.path.realpath(os.environ["SPARK_HOME"]), "")
        finders = sum(os.path.realpath(k).startswith(under) for k in sys.path_importer_cache)
        yield pd.DataFrame({"file": [worker_pyspark.__file__], "finders": [finders]})

    rows = (
        spark.range(4, numPartitions=4)
        .mapInPandas(report, "file string, finders long")
        .collect()
    )
    assert len(rows) == 4
    assert {os.path.realpath(r.file) for r in rows} == {os.path.realpath(pyspark.__file__)}
    assert {r.finders for r in rows} == {0}
