"""Session sizing comes from the host, not from a fixed large-box default."""

import os
import threading
import time
from pathlib import Path

import pytest

from kgspark.session import default_driver_mem, host_cpus, run_concurrently

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


def test_local_dir_defaults_to_spark(spark):
    # no host heuristic: without KGSPARK_LOCAL_DIR, spark.local.dir is unset
    # and Spark's own default applies
    assert (spark.sparkContext.getConf().get("spark.local.dir")
            == os.environ.get("KGSPARK_LOCAL_DIR"))


def test_run_concurrently_runs_tasks_at_once(spark):
    # every task waits for all the others: run one after another, the first
    # wait would time out
    barrier = threading.Barrier(4, timeout=30)
    assert sorted(run_concurrently(spark, *[barrier.wait] * 4)) == [0, 1, 2, 3]


def test_run_concurrently_inherits_local_properties(spark):
    sc = spark.sparkContext
    sc.setLocalProperty("kgspark.test.label", "outer")
    try:
        got = run_concurrently(
            spark, *[lambda: sc.getLocalProperty("kgspark.test.label")] * 3)
    finally:
        sc.setLocalProperty("kgspark.test.label", None)
    assert got == ["outer"] * 3


def test_run_concurrently_raises_first_failure_after_all_finish(spark):
    done = []

    def late_failure():
        time.sleep(0.3)
        done.append("late_failure")
        raise KeyError("first submitted")

    def early_failure():
        raise ValueError("first to fail")

    def slow():
        time.sleep(0.6)
        done.append("slow")

    with pytest.raises(KeyError, match="first submitted"):
        run_concurrently(spark, late_failure, early_failure, slow)
    assert sorted(done) == ["late_failure", "slow"]
