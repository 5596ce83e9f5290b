"""Shared benchmark plumbing: host fitting, the Spark session, the host tag,
the peak-RSS sampler, span recording, and the edge signature.

Nothing here imports pyspark at module load: ``configure_env`` must run
first, because the JVM and its Python workers read their settings from the
environment when the session starts.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import threading
import time
from contextlib import contextmanager
from pathlib import Path


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_heap() -> str:
    """A fifth of physical memory, at most 4g: the JVM heap, off-heap
    buffers and one Python worker per core must all fit beside other
    tenants. The session's own default (48g) assumes a far larger host."""
    return f"{max(1, min(4, mem_total_mb() // 5 // 1024))}g"


def cpu_ticks() -> tuple[int, int]:
    """(all ticks, steal ticks) from the aggregate /proc/stat line."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals[:8]), vals[7]


def configure_env(root: Path, work: Path, eventlog: Path | None) -> None:
    """Point every scratch write of the session at ``work`` (inside the
    checkout): shuffle and block-manager dirs, JVM and Python temp files,
    and the warehouse. Shuffle dirs stay off /dev/shm, whose tmpfs shares
    the host's memory with the JVM heap."""
    tmp = work / "tmp"
    for d in (tmp, work / "spark-local"):
        d.mkdir(parents=True, exist_ok=True)
    env = os.environ
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(root), env.get("PYTHONPATH", "")) if p)
    env["TMPDIR"] = str(tmp)
    env["KGSPARK_DRIVER_MEM"] = driver_heap()
    env["KGSPARK_LOCAL_DIR"] = str(work / "spark-local")
    # every JVM the session launches (spark-submit's launcher and the
    # driver) keeps its temp files here; no hsperfdata under /tmp
    env["_JAVA_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # the heap is committed and touched up front (-Xms = -Xmx, as
    # production drivers usually run, plus AlwaysPreTouch), so RSS does not
    # swing with how much of the heap G1 happens to touch before collecting
    conf = ["spark.ui.showConsoleProgress=false",
            "spark.driver.defaultJavaOptions="
            f"-Xms{driver_heap()} -XX:+AlwaysPreTouch",
            f"spark.sql.warehouse.dir={work / 'warehouse'}",
            "spark.eventLog.compress=false",
            "spark.eventLog.rolling.enabled=false"]
    if eventlog is not None:
        eventlog.mkdir(parents=True, exist_ok=True)
        env["KGSPARK_EVENTLOG"] = str(eventlog)
    else:
        env.pop("KGSPARK_EVENTLOG", None)
    env["KGSPARK_EXTRA_CONF"] = ";".join(conf)


def start_session():
    """Start the product's session on all host cores; returns
    (spark, seconds) where seconds covers JVM launch to first finished
    job."""
    t0 = time.perf_counter()
    from kgspark.session import get_spark
    spark = get_spark("kgspark-perfbench", cpus=host_cores())
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark, then the JVM gateway process, and wait for both."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * (os.sysconf("SC_PAGE_SIZE") // 1024)
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Summed RSS of every process this one started (the driver JVM and
    its Python workers), sampled from /proc on a background thread.

    The peak is taken over a one-second rolling median of the samples: a
    Python worker forked and reaped within a second moves a raw maximum by
    hundreds of MB from run to run, while memory held for longer is what
    a co-tenant or the OOM killer sees. ``paused`` stops sampling while the
    benchmark runs helper processes of its own (the output checks)."""

    def __init__(self, interval: float = 0.2, window: int = 5):
        self.interval, self.window = interval, window
        self.samples: list[tuple[float, int]] = []
        self._stop = threading.Event()
        self._paused = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            if not self._paused.is_set():
                self.samples.append(
                    (time.time(), sum(_rss_kb(p) for p in descendants(me))))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @contextmanager
    def paused(self):
        self._paused.set()
        try:
            yield
        finally:
            self._paused.clear()

    @property
    def peak_mb(self) -> float:
        kb = [s[1] for s in self.samples]
        w = self.window
        return max((median(kb[i:i + w]) for i in range(max(1, len(kb) - w + 1))),
                   default=0.0) / 1024

    def summary(self) -> dict:
        return {"peak_mb": self.peak_mb,
                "raw_peak_mb": max((s[1] for s in self.samples), default=0) / 1024}


class Spans:
    """In-memory span recorder. Each span has a name, start and end (epoch
    seconds) and its parent span. A span also labels the Spark jobs it
    launches with its name (job group), so event-log stages can be
    attributed to it. ``wrap`` replaces a module function with a recording
    twin."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.records: list[dict] = []
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        parent = getattr(self._local, "current", None)
        rec = {"name": name, "parent": parent, "start": time.time()}
        self._local.current = name
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(name, name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._local.current = parent
            self.sc.setLocalProperty("spark.jobGroup.id", prev)
            self.sc.setLocalProperty("spark.job.description", prev)
            self.records.append(rec)

    def wrap(self, module, fn_name: str, span_name: str) -> None:
        fn = getattr(module, fn_name)

        def recorded(*args, **kwargs):
            with self.span(span_name):
                return fn(*args, **kwargs)

        setattr(module, fn_name, recorded)
        self._patched.append((module, fn_name, fn))

    def unwrap_all(self) -> None:
        for module, name, fn in reversed(self._patched):
            setattr(module, name, fn)
        self._patched.clear()

    def durations(self, name: str) -> list[float]:
        return [r["end"] - r["start"] for r in self.records
                if r["name"] == name]

    def total(self, name: str) -> float:
        return sum(self.durations(name))

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(self.records, indent=1, default=str))


def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


EDGE_KEY = ("uuid", "valid_at", "invalid_at")


def edge_signature(edges) -> tuple[int, int]:
    """(row count, order-free crc32 sum over the bi-temporal edge key)."""
    from pyspark.sql import functions as F
    row = (edges.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.crc32(F.concat_ws(
            "|", *[F.col(c).cast("string") for c in EDGE_KEY]))).alias("sig"))
        .first())
    return int(row["n"]), int(row["sig"] or 0)


def dir_stats(path: Path) -> tuple[int, float]:
    """(data files, MB) under ``path``, ignoring checksum and marker files."""
    files, size = 0, 0
    for p in path.rglob("*"):
        if p.is_file() and not p.name.startswith((".", "_")):
            files += 1
            size += p.stat().st_size
    return files, size / 2 ** 20


def write_pages(pdf, path: Path, n_files: int) -> None:
    """Write pandas pages (``datagen`` schema) as ``n_files`` parquet files
    of contiguous rows, with pyarrow and no Spark job. ``warc_ts`` is stored
    as a UTC instant, which Spark reads as TIMESTAMP (the session clock is
    UTC), as it reads a naive pandas time in ``createDataFrame``."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    schema = pa.schema([("url", pa.string()),
                        ("warc_ts", pa.timestamp("us", tz="UTC")),
                        ("html", pa.binary()), ("text", pa.string()),
                        ("lang", pa.string()), ("group_id", pa.string()),
                        ("source", pa.string())])
    table = pa.Table.from_pandas(
        pdf.assign(warc_ts=pdf["warc_ts"].dt.tz_localize("UTC")),
        schema=schema, preserve_index=False)
    path.mkdir(parents=True)
    step = -(-len(pdf) // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step),
                       path / f"part-{i:05d}.parquet")


def fresh_dir(path: Path) -> Path:
    shutil.rmtree(path, ignore_errors=True)
    path.mkdir(parents=True)
    return path
