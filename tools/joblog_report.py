"""Summarize a Spark event log: per-job wall time, inter-job driver gaps,
and the heaviest stages (with task-skew ratio).

Usage: python tools/joblog_report.py <eventlog-file-or-dir> [top_n_stages]
           [start_ms end_ms]

With the optional epoch-ms window, only jobs submitted inside the window
are considered — slicing one timed run out of a multi-run app log.
"""
from __future__ import annotations

import json
import sys
from pathlib import Path


def main() -> None:
    p = Path(sys.argv[1])
    top_n = int(sys.argv[2]) if len(sys.argv) > 2 else 12
    win = (int(sys.argv[3]), int(sys.argv[4])) if len(sys.argv) > 4 else None
    while p.is_dir():  # eventlog_v2 rolling layout: dir of events_* files
        entries = [f for f in p.iterdir() if not f.name.startswith("appstatus")]
        p = max(entries, key=lambda f: f.stat().st_mtime)
    jobs = {}          # id -> [start, end]
    stages = {}        # id -> dict
    task_times = {}    # stage id -> [duration_ms]
    app_start = app_end = None
    if p.suffix == ".zstd":
        import subprocess
        raw = subprocess.run(["zstd", "-dc", str(p)], capture_output=True,
                             check=True).stdout.decode()
        lines = raw.splitlines()
    else:
        lines = open(p).read().splitlines()
    if True:
        for line in lines:
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            e = ev.get("Event")
            if e == "SparkListenerApplicationStart":
                app_start = ev["Timestamp"]
            elif e == "SparkListenerApplicationEnd":
                app_end = ev["Timestamp"]
            elif e == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = [ev["Submission Time"], None]
            elif e == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]][1] = ev["Completion Time"]
            elif e == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                sid = si["Stage ID"]
                sub, comp = si.get("Submission Time"), si.get("Completion Time")
                if win and (sub is None or not win[0] <= sub <= win[1]):
                    continue
                stages[sid] = {
                    "name": si["Stage Name"].split("\n")[0][:70],
                    "tasks": si["Number of Tasks"],
                    "sec": round((comp - sub) / 1000, 2) if sub and comp else None,
                }
            elif e == "SparkListenerTaskEnd":
                ti = ev.get("Task Info", {})
                sid = ev.get("Stage ID")
                if ti and sid is not None:
                    task_times.setdefault(sid, []).append(
                        ti.get("Finish Time", 0) - ti.get("Launch Time", 0))

    if win:
        jobs = {j: se for j, se in jobs.items() if win[0] <= se[0] <= win[1]}
        task_times = {s: t for s, t in task_times.items() if s in stages}
    ordered = sorted(jobs.items())
    total_job = sum((e0 - s) / 1000 for _, (s, e0) in ordered if e0)
    print(f"jobs: {len(ordered)}, sum(job wall) = {total_job:.1f}s")
    if app_start and app_end:
        print(f"app wall = {(app_end - app_start) / 1000:.1f}s")
    prev_end = None
    gaps = []
    for jid, (s, e0) in ordered:
        if prev_end is not None:
            gaps.append((jid, (s - prev_end) / 1000))
        prev_end = e0 or s
    big_gaps = [(j, g) for j, g in gaps if g > 0.2]
    print(f"driver gaps >0.2s between jobs: {len(big_gaps)}, "
          f"total {sum(g for _, g in gaps):.1f}s")
    for j, g in sorted(big_gaps, key=lambda x: -x[1])[:8]:
        print(f"  gap before job {j}: {g:.1f}s")
    print(f"\ntop {top_n} stages by wall:")
    for sid, st in sorted(stages.items(), key=lambda kv: -(kv[1]["sec"] or 0))[:top_n]:
        tt = sorted(task_times.get(sid, []))
        skew = ""
        if tt:
            med = tt[len(tt) // 2] / 1000
            skew = (f" tasks={len(tt)} med={med:.2f}s max={tt[-1] / 1000:.2f}s "
                    f"sum={sum(tt) / 1000:.1f}s")
        print(f"  stage {sid:>4} {st['sec']:>7}s {st['name']}{skew}")


if __name__ == "__main__":
    main()
