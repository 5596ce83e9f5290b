"""kgspark benchmark: one command, seeded inputs, checked outputs.

    python3 perfbench/run.py --workload {build,ingest} --seed N \
        --seconds S --trace {0,1} [--size {full,tiny}]

Run from the root of a kgspark checkout. The workload's inputs are made
from ``--seed`` and written to parquet before any timing; the program only
sees those tables. One process, ``local[<host cores>]``, one closed-loop
client. ``--trace 0`` prints the end-to-end metrics of BENCHMARK.json,
``--trace 1`` its per-layer metrics (spans around each module's public
functions, plus Spark's event log). The last stdout line is the result
record; the line before it carries the host tag and the run's details.
Exits non-zero when any output check fails.
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys
import time
from pathlib import Path

import harness

ROOT = Path(__file__).resolve().parents[1]
OUT = ROOT / ".perfbench-out"


class Ctx:
    """What a workload's setup, measure and trace steps share."""

    def __init__(self, args, spark, work: Path, rss: harness.RssSampler):
        self.seed, self.seconds, self.size = args.seed, args.seconds, args.size
        self.trace = bool(args.trace)
        self.spark, self.work, self.rss, self.out = spark, work, rss, OUT
        self.spans = harness.Spans(spark)


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("build", "ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    t_run = time.perf_counter()
    args = _parse(argv)
    if not (ROOT / "kgspark" / "pipeline.py").is_file():
        print(f"perfbench: no kgspark package under {ROOT}; run from the root "
              "of a kgspark checkout", file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    work = ROOT / ".perfbench-work" / f"{args.workload}-{args.seed}-{time.time_ns()}"
    eventlog_dir = work / "eventlog" if args.trace else None
    harness.configure_env(ROOT, work, eventlog_dir)
    sys.path.insert(0, str(ROOT))
    import workload_build
    import workload_ingest
    wl = {"build": workload_build, "ingest": workload_ingest}[args.workload]

    ticks0 = harness.cpu_ticks()
    # wall seconds of each phase of this process, so the run's cost can be
    # read from its record
    phases = {}

    def phase(name, fn, *a):
        t = time.perf_counter()
        out = fn(*a)
        phases[name] = time.perf_counter() - t
        return out

    try:
        with harness.RssSampler() as rss:
            spark, start_s = harness.start_session()
            phases["session_s"] = start_s
            try:
                ctx = Ctx(args, spark, work, rss)
                phase("setup_s", wl.setup, ctx)
                res = phase("measure_s", wl.measure, ctx)
                if args.trace:
                    # the trace step runs Spark jobs too: it must finish
                    # before the session stops; the event log is read after
                    trace_out = phase("trace_s", wl.trace, ctx)
            finally:
                phase("stop_s", harness.stop_session, spark)
        ticks1 = harness.cpu_ticks()
        layers = checks = {}
        if args.trace:
            import eventlog
            layers, checks = trace_out
            stages = eventlog.read_stages(eventlog_dir)
            window = eventlog.in_window(stages, *res["window"])
            layers.update(res.get("layers", {}))
            layers.update(eventlog.summarize(window, harness.host_cores()))
            layers["udfs.tasks"], layers["udfs.python_init_s"] = \
                eventlog.python_udf(window)
            layers["session.start_s"] = start_s
            tag = f"{args.workload}-{args.seed}"
            ctx.spans.dump(OUT / f"spans-{tag}.json")
            (OUT / f"stages-{tag}.json").write_text(
                json.dumps(eventlog.per_stage(stages), indent=1))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if work.parent.exists() and not any(work.parent.iterdir()):
            work.parent.rmdir()

    failed = res["failed"]
    if not all(checks.values()):
        failed = res["attempted"]
    e2e = {"setup_s": start_s + ctx.bootstrap_s, "peak_rss_mb": rss.peak_mb,
           **res["metrics"]}
    if args.trace:
        names, values = spec["per_layer"], layers
    else:
        names, values = spec["end_to_end"], e2e
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)),
                           "unit": m["unit"]} for m in names}
    total, steal = ticks1[0] - ticks0[0], ticks1[1] - ticks0[1]
    host = {"cores": harness.host_cores(), "mem_total_mb": harness.mem_total_mb(),
            "steal_pct": 100 * steal / max(total, 1),
            "driver_heap": harness.driver_heap()}
    phases["run_s"] = time.perf_counter() - t_run
    print(json.dumps({"host": host, "workload": args.workload,
                      "seed": args.seed, "size": args.size,
                      "end_to_end": e2e, "rss": rss.summary(), "checks": checks,
                      "phases": phases, "details": res["details"]},
                     default=str))
    print(json.dumps({"correct": failed == 0, "attempted": res["attempted"],
                      "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
