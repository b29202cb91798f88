"""Host-derived session defaults (no Spark session is started here)."""

from __future__ import annotations

import os

from buildlogparser_spark.session import default_cores, default_driver_memory


def test_default_cores_from_affinity_unless_overridden(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_cores() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cores() == 3


def test_default_driver_memory_from_meminfo_unless_overridden(monkeypatch,
                                                              tmp_path):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    meminfo = tmp_path / "meminfo"
    meminfo.write_text("MemTotal:       16000000 kB\n"
                       "MemFree:          500000 kB\n"
                       "MemAvailable:    8388608 kB\n")
    assert default_driver_memory(str(meminfo)) == "4096m"  # half of 8 GB
    meminfo.write_text("MemAvailable:       1024 kB\n")
    assert default_driver_memory(str(meminfo)) == "1024m"  # 1 GB floor
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "2g")
    assert default_driver_memory(str(meminfo)) == "2g"
