"""session.get_spark's defaults when the environment is unset (no Spark
needed): cores from the process's affinity, driver memory from what the
box or its cgroup allows."""

from __future__ import annotations

import os

from isaac_kafka_streaming_spark import session


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
