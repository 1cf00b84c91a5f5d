"""session.get_spark's defaults when the environment is unset (no Spark
needed): cores from the process's affinity, driver memory from what the
box or its cgroup allows.  Also the Python-worker daemon it configures:
its zip re-read rule, and (with Spark) that workers run under it."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from isaac_kafka_streaming_spark import pydaemon, session

_LAZY_ZIPIMPORT = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="zipimport reads its directory lazily from CPython 3.12 on",
)


def _meminfo(tmp_path, total_kb: int) -> str:
    p = tmp_path / "meminfo"
    p.write_text(f"MemTotal:       {total_kb} kB\nMemFree:        1024 kB\n")
    return str(p)


def test_cpus_default_to_affinity_and_explicit_wins(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert session.default_cpus() == str(len(os.sched_getaffinity(0)))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert session.default_cpus() == "3"


def test_available_mem_is_memtotal_lowered_to_cgroup_limit(tmp_path):
    meminfo = _meminfo(tmp_path, 15 * 1024 * 1024)  # 15 GiB
    unset = tmp_path / "memory.max"
    unset.write_text("max\n")
    assert session.available_mem_mb([str(unset)], meminfo) == 15 * 1024
    limit = tmp_path / "memory.limit_in_bytes"
    limit.write_text(str(6 * 1024**3))
    missing = str(tmp_path / "absent")
    assert session.available_mem_mb([missing, str(limit)], meminfo) == 6 * 1024
    # a limit above physical memory does not raise it
    limit.write_text(str(64 * 1024**3))
    assert session.available_mem_mb([str(limit)], meminfo) == 15 * 1024


def test_driver_mem_is_half_available_capped_and_explicit_wins(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    monkeypatch.setattr(session, "available_mem_mb", lambda: 15 * 1024)
    assert session.default_driver_mem() == "7680m"
    monkeypatch.setattr(session, "available_mem_mb", lambda: 256 * 1024)
    assert session.default_driver_mem() == "16384m"
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "1g")
    assert session.default_driver_mem() == "1g"


@_LAZY_ZIPIMPORT
def test_zip_directory_reread_only_when_archive_changes(tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"

    def write(*members):
        with zipfile.ZipFile(archive, "w") as z:
            for name in members:
                z.writestr(f"{name}.py", f"NAME = {name!r}\n")

    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        pydaemon._invalidate_if_changed,
    )
    write("zipstamp_a")
    monkeypatch.syspath_prepend(str(archive))
    try:
        assert importlib.import_module("zipstamp_a").NAME == "zipstamp_a"
        importlib.invalidate_caches()  # the importer's first stamp
        n = reads.count(str(archive))
        for _ in range(3):
            importlib.invalidate_caches()
        assert reads.count(str(archive)) == n  # unchanged: not re-read

        write("zipstamp_a", "zipstamp_b")  # rewritten in place
        importlib.invalidate_caches()
        assert reads.count(str(archive)) == n + 1
        assert importlib.import_module("zipstamp_b").NAME == "zipstamp_b"
    finally:
        for name in ("zipstamp_a", "zipstamp_b"):
            sys.modules.pop(name, None)


@_LAZY_ZIPIMPORT
def test_python_workers_run_under_the_patched_daemon(spark):
    """A mistyped daemon module or conf key would silently fall back to
    the stock pyspark.daemon; the workers must report the patch."""

    def probe(batches):
        import zipimport

        import pandas as pd

        from isaac_kafka_streaming_spark import pydaemon as d

        for _ in batches:
            pass
        method = zipimport.zipimporter.invalidate_caches
        yield pd.DataFrame({"patched": [method is d._invalidate_if_changed]})

    df = spark.range(4).repartition(2).mapInPandas(probe, "patched boolean")
    rows = df.collect()
    assert rows and all(r.patched for r in rows)
