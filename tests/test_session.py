"""Session factory (session.py) and the worker daemon it configures
(_pydaemon.py).

The daemon's gate must skip re-reading an unchanged zip archive on
``importlib.invalidate_caches()`` yet still re-read one that was
rewritten or replaced, so a fresh import sees the new code; the
session's Python workers must really run that daemon; and the
shuffle width must follow the declared core count.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from blackroad_data_pipeline_spark import _pydaemon
from blackroad_data_pipeline_spark.session import get_spark


def _write_zip(path, source: str) -> None:
    info = zipfile.ZipInfo("gated_mod.py", date_time=(2020, 1, 1, 0, 0, 0))
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(info, source)


def test_gate_rereads_only_changed_archives(tmp_path, monkeypatch):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, "X = 1\n")
    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        _pydaemon.invalidate_caches)
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, "gated_mod", raising=False)
    monkeypatch.delitem(sys.path_importer_cache, archive, raising=False)
    monkeypatch.delitem(zipimport._zip_directory_cache, archive,
                        raising=False)

    def fresh_import():
        sys.modules.pop("gated_mod", None)
        return importlib.import_module("gated_mod").X

    assert fresh_import() == 1
    importlib.invalidate_caches()  # first gate call records the stat key
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []

    # rewritten in place with different content
    _write_zip(archive, "X = 22\n")
    importlib.invalidate_caches()
    assert len(reads) == 1
    assert fresh_import() == 22

    # replaced by a same-size copy with the same mtime: only the inode
    # differs
    st = os.stat(archive)
    copy = str(tmp_path / "copy.zip")
    _write_zip(copy, "X = 33\n")
    assert os.stat(copy).st_size == st.st_size
    os.utime(copy, ns=(st.st_atime_ns, st.st_mtime_ns))
    os.replace(copy, archive)
    importlib.invalidate_caches()
    assert len(reads) == 2
    assert fresh_import() == 33
    importlib.invalidate_caches()
    assert len(reads) == 2
    sys.modules.pop("gated_mod", None)


def test_workers_run_the_gated_daemon(spark):
    @F.udf("string")
    def gate_module(_):
        import zipimport

        return zipimport.zipimporter.invalidate_caches.__module__

    got = spark.range(1).select(gate_module("id")).first()[0]
    assert got == "blackroad_data_pipeline_spark._pydaemon"


def _builder_options(monkeypatch, **kwargs) -> dict:
    """The options get_spark hands the builder, without touching the
    live session (getOrCreate would apply them to it)."""
    seen = {}

    class Built(Exception):
        pass

    def capture(builder):
        seen.update(builder._options)
        raise Built

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", capture)
    with pytest.raises(Built):
        get_spark(**kwargs)
    return seen


def test_shuffle_width_follows_declared_cores(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_MASTER", raising=False)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    opts = _builder_options(monkeypatch)
    assert opts["spark.master"] == "local[3]"
    assert opts["spark.sql.shuffle.partitions"] == "3"
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "*")
    opts = _builder_options(monkeypatch)
    assert opts["spark.master"] == "local[*]"
    assert opts["spark.sql.shuffle.partitions"] == str(os.cpu_count())


def test_driver_heap_follows_physical_memory(monkeypatch):
    """Two fifths of physical memory in whole GiB, between 1g and 32g;
    SPARK_GRAFT_DRIVER_MEM overrides it."""
    real = os.sysconf
    gib = {}

    def sysconf(name):
        if name == "SC_PAGE_SIZE":
            return 4096
        if name == "SC_PHYS_PAGES":
            return gib["n"] * 2 ** 30 // 4096
        return real(name)

    monkeypatch.setattr(os, "sysconf", sysconf)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    for n, want in ((16, "6g"), (15, "6g"), (2, "1g"), (1, "1g"),
                    (64, "25g"), (512, "32g")):
        gib["n"] = n
        assert _builder_options(monkeypatch)["spark.driver.memory"] == want
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert _builder_options(monkeypatch)["spark.driver.memory"] == "3g"


def test_daemon_module_default_and_override(monkeypatch):
    opts = _builder_options(monkeypatch)
    assert opts["spark.python.daemon.module"] == \
        "blackroad_data_pipeline_spark._pydaemon"
    opts = _builder_options(monkeypatch, extra_conf={
        "spark.python.daemon.module": "pyspark.daemon"})
    assert opts["spark.python.daemon.module"] == "pyspark.daemon"
