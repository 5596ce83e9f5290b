"""Spark event-log reader: per-stage tasks, shuffle, spill, GC, task skew
and Python worker start-up, for the jobs of one time window.

Reads the single uncompressed JSON-lines log the session writes under
``spark.eventLog.dir``. Read it after the session has stopped, when every
event has been flushed.
"""

from __future__ import annotations

import json
import statistics
from pathlib import Path

PY_INIT = "time to initialize Python workers"
PY_RUN = "time to run Python workers"


def read_stages(log_dir: Path) -> list[dict]:
    """One dict per completed stage: job group, submit/complete epoch ms,
    task durations, and summed task metrics."""
    job_group: dict[int, str] = {}
    stage_job: dict[int, int] = {}
    tasks: dict[int, list[dict]] = {}
    done: dict[int, dict] = {}
    (log,) = [p for p in log_dir.iterdir() if not p.name.startswith(".")]
    with open(log) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                job_group[ev["Job ID"]] = props.get("spark.jobGroup.id") or ""
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, ev["Job ID"])
            elif kind == "SparkListenerTaskEnd":
                info, m = ev.get("Task Info") or {}, ev.get("Task Metrics") or {}
                tasks.setdefault(ev["Stage ID"], []).append({
                    "ms": info.get("Finish Time", 0) - info.get("Launch Time", 0),
                    "gc_ms": m.get("JVM GC Time", 0),
                    "spill": m.get("Memory Bytes Spilled", 0)
                    + m.get("Disk Bytes Spilled", 0),
                    "shuffle": (m.get("Shuffle Read Metrics") or {}).get(
                        "Local Bytes Read", 0)
                    + (m.get("Shuffle Read Metrics") or {}).get(
                        "Remote Bytes Read", 0),
                })
            elif kind == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                acc = {a.get("Name"): a.get("Value")
                       for a in si.get("Accumulables", [])}
                done[si["Stage ID"]] = {
                    "stage": si["Stage ID"],
                    "submitted": si.get("Submission Time") or 0,
                    "completed": si.get("Completion Time") or 0,
                    "py_init_ms": float(acc.get(PY_INIT) or 0),
                    "python": PY_RUN in acc,
                }
    out = []
    for sid, st in done.items():
        ts = tasks.get(sid, [])
        st["group"] = job_group.get(stage_job.get(sid, -1), "")
        st["job"] = stage_job.get(sid, -1)
        st["task_ms"] = [t["ms"] for t in ts]
        st["gc_ms"] = sum(t["gc_ms"] for t in ts)
        st["spill_bytes"] = sum(t["spill"] for t in ts)
        st["shuffle_bytes"] = sum(t["shuffle"] for t in ts)
        out.append(st)
    return sorted(out, key=lambda s: s["stage"])


def in_window(stages: list[dict], t0: float, t1: float) -> list[dict]:
    """Stages submitted within [t0, t1] (epoch seconds)."""
    lo, hi = t0 * 1000, t1 * 1000
    return [s for s in stages if lo <= s["submitted"] <= hi]


def _skew(stage: dict) -> float:
    """Max / median task time of one stage."""
    ms = stage["task_ms"] or [0]
    return max(ms) / max(statistics.median(ms), 1)


def per_stage(stages: list[dict]) -> list[dict]:
    """One row per stage, labelled with its job group (the span that
    launched it): tasks, wall, shuffle, spill, GC, skew and Python worker
    start-up."""
    return [{"stage": s["stage"], "job": s["job"], "group": s["group"],
             "tasks": len(s["task_ms"]),
             "wall_s": (s["completed"] - s["submitted"]) / 1000,
             "shuffle_mb": s["shuffle_bytes"] / 2 ** 20,
             "spill_mb": s["spill_bytes"] / 2 ** 20,
             "gc_s": s["gc_ms"] / 1000, "skew": _skew(s),
             "python_init_s": s["py_init_ms"] / 1000} for s in stages]


def summarize(stages: list[dict], cores: int) -> dict[str, float]:
    """The ``spark.*`` per-layer metrics over ``stages``. Skew is the
    largest max/median task time among stages with at least one task per
    core (smaller stages cannot be balanced, so their ratio says nothing)."""
    skews = [_skew(s) for s in stages if len(s["task_ms"]) >= cores]
    return {
        "spark.jobs": float(len({s["job"] for s in stages})),
        "spark.tasks": float(sum(len(s["task_ms"]) for s in stages)),
        "spark.shuffle_mb": sum(s["shuffle_bytes"] for s in stages) / 2 ** 20,
        "spark.spill_mb": sum(s["spill_bytes"] for s in stages) / 2 ** 20,
        "spark.task_skew": max(skews, default=1.0),
        "spark.gc_s": sum(s["gc_ms"] for s in stages) / 1000,
    }


def python_udf(stages: list[dict]) -> tuple[float, float]:
    """(tasks, summed Python worker initialisation seconds) over the stages
    that ran Python UDFs."""
    py = [s for s in stages if s["python"]]
    return (float(sum(len(s["task_ms"]) for s in py)),
            sum(s["py_init_ms"] for s in py) / 1000)
