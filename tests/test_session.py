"""Session sizing comes from the host, not from a fixed large-box default."""

import os
from pathlib import Path

import pytest

from kgspark.session import default_driver_mem, host_cpus

MEMINFO = Path("/proc/meminfo")


@pytest.mark.skipif(not MEMINFO.exists(), reason="needs /proc/meminfo")
def test_default_driver_heap_is_smaller_than_physical_memory():
    total_kb = next(int(line.split()[1])
                    for line in MEMINFO.read_text().splitlines()
                    if line.startswith("MemTotal:"))
    mem = default_driver_mem()
    assert mem.endswith("m")
    assert 0 < int(mem[:-1]) * 1024 < total_kb


def test_host_cpus_follows_env_then_host(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert host_cpus() == 3
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert host_cpus() == os.cpu_count()
