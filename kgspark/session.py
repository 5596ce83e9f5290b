"""SparkSession factory with the settings the pipeline is designed around.

Local mode stands in for a multi-executor cluster; everything scale-relevant
(AQE, skew-join handling, shuffle partition count, Arrow batching) is
configured here so the same code runs unchanged under ``spark-submit
--py-files`` on a real cluster.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor
from typing import Any, Callable

from pyspark.sql import SparkSession
from pyspark.util import inheritable_thread_target


def host_cpus() -> int:
    """``SPARK_GRAFT_CPUS`` when set, else every core of the host."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)


def default_driver_mem() -> str:
    """About half of physical memory (MemTotal): local mode runs every task
    inside the one driver JVM, and the rest of the box is left to the
    Python workers, the page cache and the OS. Without /proc/meminfo
    (non-Linux hosts) fall back to 4g."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return f"{int(line.split()[1]) // 2048}m"
    except OSError:
        pass
    return "4g"


def get_spark(app: str = "kgspark", cpus: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = host_cpus()
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    builder = (
        SparkSession.builder
        .master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # hub entities are deliberately Zipf-skewed; AQE splits oversized
        # join partitions at runtime (complements the explicit salting in
        # kgspark/linking.py)
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # local mode = driver-only JVM: give it real memory (a small heap
        # makes concurrent tasks GC-bound long before data volume does),
        # sized from the host so it never outgrows physical RAM
        .config("spark.driver.memory",
                os.environ.get("KGSPARK_DRIVER_MEM") or default_driver_mem())
        # GC: G1 (JVM default; A/B'd vs ParallelGC — G1 wins on this DAG)
        # with an explicitly enlarged young generation. The provenance
        # aggregation (collect_set states over millions of classes) is
        # allocation-rate-bound: event-log attribution at 1.6M pages showed
        # 19-44% of that stage's CPU in GC with default ergonomics, and
        # interleaved full-DAG A/B at local[32] measured means 122s -> 95s
        # (bests 100s -> 68s) from letting young collections absorb the agg
        # burst instead of promoting it. KGSPARK_JAVA_OPTS overrides.
        .config("spark.driver.extraJavaOptions",
                os.environ.get("KGSPARK_JAVA_OPTS",
                               "-XX:+UnlockExperimentalVMOptions"
                               " -XX:G1NewSizePercent=30"
                               " -XX:G1MaxNewSizePercent=60"))
        .config("spark.ui.enabled", "false")
        # event-log knob for offline stage/job attribution
        # (tools/joblog_report.py); off unless a dir is given
        .config("spark.eventLog.enabled",
                "true" if os.environ.get("KGSPARK_EVENTLOG") else "false")
        .config("spark.eventLog.dir",
                os.environ.get("KGSPARK_EVENTLOG", "/tmp"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # collect_set/collect_list aggregations (edge provenance merge) run
        # as ObjectHashAggregate, whose sort-based fallback triggers at 128
        # distinct keys per task (!) — the dedup stages hold 10^4-10^5
        # classes per task, so the default silently degrades them to a full
        # sort on the fat 5-string class key. States are bounded (episode
        # arrays are capped), so hash aggregation is safe at a few million
        # in-flight groups per task.
        .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
                str(4 * 1024 * 1024))
        # no scan split cap: Spark's own rule (min(128MB, bytes / cores))
        # gives one wave of scan tasks. Each Python UDF task costs ~0.2
        # core-seconds in PySpark itself (a no-op mapPartitions on 4 cores:
        # 3.2 s over 64 tasks, 0.3 s over 4), so finer splits only add cost.
        # AQE's 64MB advisory target would coalesce our few-hundred-MB
        # shuffles down to a handful of tasks, idling most cores; 8MB keeps
        # mid-stage parallelism ≈ core count at bench scale while still
        # merging truly tiny partitions
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", str(8 * 1024 * 1024))
    )
    # shuffle and block-manager dirs: Spark's default unless set (a tmpfs
    # would share the host's RAM with the half-of-MemTotal heap)
    local_dir = os.environ.get("KGSPARK_LOCAL_DIR")
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    # ad-hoc conf passthrough for A/B experiments:
    # KGSPARK_EXTRA_CONF="spark.io.compression.codec=zstd;spark.x=y"
    extra = os.environ.get("KGSPARK_EXTRA_CONF", "")
    for kv in filter(None, extra.split(";")):
        k, _, v = kv.partition("=")
        builder = builder.config(k.strip(), v.strip())
    return builder.getOrCreate()


def run_concurrently(spark: SparkSession, *tasks: Callable[[], Any]) -> list:
    """Run zero-argument callables (independent Spark work) one thread
    apiece, inheriting the caller's local properties and tags. Waits for
    every task, then raises the first failure in submission order or
    returns the results in order."""
    with ThreadPoolExecutor(max_workers=max(len(tasks), 1)) as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(t))
                   for t in tasks]
    return [f.result() for f in futures]
