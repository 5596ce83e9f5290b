"""Tiny-size smoke test of the benchmark: every workload, untraced and
traced, at ``--size tiny``, with its output checks; plus the refusal to run
outside a kgspark checkout.

    python3 perfbench/smoke_test.py      # about four minutes on 4 cores

Also collectable by pytest (``pytest perfbench/smoke_test.py``).
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
# per-layer metrics that may read 0 on every workload at tiny size
MAY_BE_ZERO = {"spark.spill_mb", "trace.overhead_pct"}


def _run(cwd: Path, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace),
         "--size", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=300)


def _check_run(workload: str, trace: int) -> tuple[dict, dict]:
    """Run once and check the result record against BENCHMARK.json.
    Returns (details record, result record)."""
    p = _run(ROOT, workload, trace)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    rec = json.loads(lines[-1])
    assert set(rec) == {"correct", "attempted", "failed", "metrics"}
    assert rec["correct"] and rec["failed"] == 0 and rec["attempted"] >= 1
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert set(rec["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = rec["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        if not trace:
            assert got["value"] > 0, m["name"]
    return json.loads(lines[-2]), rec


def test_workloads():
    layers = {}
    # build: the same seed must give the same edge signature in two runs
    plain, _ = _check_run("build", 0)
    traced, rec = _check_run("build", 1)
    layers.update({k: v for k, v in rec["metrics"].items() if v["value"]})
    sig = [(d["details"]["edges"], d["details"]["edge_crc"])
           for d in (plain, traced)]
    assert sig[0] == sig[1], sig
    # ingest: likewise for the streamed graph
    plain, _ = _check_run("ingest", 0)
    traced, rec = _check_run("ingest", 1)
    layers.update({k: v for k, v in rec["metrics"].items() if v["value"]})
    assert (plain["details"]["edges_streamed"]
            == traced["details"]["edges_streamed"])
    assert traced["checks"]["hybrid_indexed_equals_scan"]
    # every per-layer metric is measured by at least one workload
    unmeasured = {m["name"] for m in SPEC["per_layer"]} - set(layers)
    assert unmeasured <= MAY_BE_ZERO, unmeasured


def test_refuses_without_program():
    bare = ROOT / ".perfbench-work" / "smoke-bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    try:
        shutil.copy(ROOT / "BENCHMARK.json", bare)
        shutil.copytree(ROOT / "perfbench", bare / "perfbench",
                        ignore=shutil.ignore_patterns("__pycache__"))
        p = _run(bare, "build", 0)
        assert p.returncode != 0
        assert '"correct"' not in p.stdout
    finally:
        shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    for name, fn in list(globals().items()):
        if name.startswith("test_"):
            fn()
            print("ok", name, flush=True)
