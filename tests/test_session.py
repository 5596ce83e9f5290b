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


def test_scan_splits_fill_one_wave(spark, tmp_path):
    # bench layout: many small page files. With no split cap, Spark packs
    # them into about one task per core instead of one per few files
    spark.range(20_000).selectExpr("id", "repeat('x', 64) AS text") \
        .repartition(128).write.parquet(str(tmp_path / "pages"))
    scan = spark.read.parquet(str(tmp_path / "pages"))
    assert len(list((tmp_path / "pages").glob("*.parquet"))) == 128
    n = spark.sparkContext.defaultParallelism
    assert scan.rdd.getNumPartitions() <= 2 * n
