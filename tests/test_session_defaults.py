"""get_spark's host-derived defaults, checked against a recording builder
(no JVM is started)."""

from __future__ import annotations

import os
import zipfile

import pytest

import deepblocker_spark.session as session


class _Builder:
    def __init__(self):
        self.conf = {}

    def appName(self, name):
        return self

    def master(self, master):
        self.conf["master"] = master
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return self.conf


@pytest.fixture
def conf_of(monkeypatch):
    """-> build(**kwargs): the conf get_spark would start a session with."""
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_SHUFFLE", raising=False)

    def build(**kwargs):
        monkeypatch.setattr(session.SparkSession, "builder", _Builder())
        return session.get_spark(**kwargs)

    return build


def _ram_mb():
    return os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") >> 20


def test_defaults_come_from_the_host(conf_of):
    conf = conf_of()
    assert conf["master"] == f"local[{len(os.sched_getaffinity(0))}]"
    heap_mb = int(conf["spark.driver.memory"].removesuffix("m"))
    assert heap_mb == min(12 << 10, _ram_mb() // 4)
    assert conf["spark.sql.shuffle.partitions"] == "32"


def test_heap_is_a_quarter_of_ram_capped_at_12g(monkeypatch):
    page = os.sysconf("SC_PAGE_SIZE")
    for ram_gb, want in ((16, "4096m"), (64, "12288m"), (2, "512m")):
        pages = (ram_gb << 30) // page
        monkeypatch.setattr(session.os, "sysconf", lambda name, p=pages: {
            "SC_PHYS_PAGES": p, "SC_PAGE_SIZE": page}[name])
        assert session._host_driver_memory() == want


def test_explicit_settings_override_the_host(conf_of, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "2g")
    conf = conf_of()
    assert conf["master"] == "local[3]"
    assert conf["spark.driver.memory"] == "2g"
    conf = conf_of(master="local[2]", extra_conf={"spark.driver.memory": "1g"})
    assert conf["master"] == "local[2]"
    assert conf["spark.driver.memory"] == "1g"


_DAEMON = "spark.python.daemon.module"


def test_local_master_starts_the_engine_daemon(conf_of, monkeypatch):
    pkg = os.path.dirname(os.path.realpath(session.deepblocker_spark.__file__))
    monkeypatch.chdir(os.path.dirname(pkg))
    assert conf_of(master="local[2]")[_DAEMON] == "deepblocker_spark.worker_daemon"
    assert conf_of(extra_conf={_DAEMON: "pyspark.daemon"})[_DAEMON] == "pyspark.daemon"
    assert _DAEMON not in conf_of(master="spark://head:7077")


def test_packages_workers_cannot_import_keep_pyspark_daemon(conf_of, monkeypatch, tmp_path):
    archive = tmp_path / "deepblocker_spark.zip"
    zipfile.ZipFile(archive, "w").close()
    monkeypatch.chdir(tmp_path)
    monkeypatch.setenv("PYTHONPATH", str(archive))
    monkeypatch.setattr(session.deepblocker_spark, "__file__",
                        str(archive / "deepblocker_spark" / "__init__.py"))
    assert _DAEMON not in conf_of(master="local[2]")
    # a directory the workers' path does not hold
    elsewhere = tmp_path / "src" / "deepblocker_spark"
    elsewhere.mkdir(parents=True)
    monkeypatch.setattr(session.deepblocker_spark, "__file__", str(elsewhere / "__init__.py"))
    assert _DAEMON not in conf_of(master="local[2]")
