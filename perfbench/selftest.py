"""Smoke self-test of the benchmark at a tiny input size.

    python3 perfbench/selftest.py [workload ...]

Runs every workload (or the named ones) once untraced and once traced
at ``--scale 0.05`` with a one-second window, and checks that

- the last output line is the result object with exactly the keys
  ``correct``, ``attempted``, ``failed`` and ``metrics``;
- the outputs were correct and no doc failed;
- every end-to-end (untraced) and per-layer (traced) metric named in
  ``BENCHMARK.json`` is printed with its unit, as a finite number;
- ``kernel.engine.stage_coverage`` is at least 0.95 wherever the
  workload feeds the kernel.

Exits non-zero on the first failed check.
"""

from __future__ import annotations

import json
import math
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
MIN_COVERAGE = 0.95
KERNEL_WORKLOADS = ("extract", "train_corpus")


def run(workload: str, trace: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace),
           "--scale", "0.05"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=300)
    if proc.returncode != 0:
        raise SystemExit(f"{' '.join(cmd)} exited {proc.returncode}:\n"
                         f"{proc.stderr[-3000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def check(workload: str, trace: int, result: dict, defs: list) -> None:
    where = f"{workload} trace={trace}"
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise SystemExit(f"{where}: result keys {sorted(result)}")
    if not result["correct"] or result["failed"] or result["attempted"] < 1:
        raise SystemExit(f"{where}: correct={result['correct']} "
                         f"attempted={result['attempted']} "
                         f"failed={result['failed']}")
    metrics = result["metrics"]
    want = {d["name"]: d["unit"] for d in defs}
    if set(metrics) != set(want):
        raise SystemExit(f"{where}: metrics differ from BENCHMARK.json: "
                         f"{sorted(set(metrics) ^ set(want))}")
    for name, m in metrics.items():
        if m.get("unit") != want[name] or not math.isfinite(m["value"]):
            raise SystemExit(f"{where}: bad metric {name}: {m}")
    cov = metrics.get("kernel.engine.stage_coverage", {}).get("value")
    if trace and workload in KERNEL_WORKLOADS and cov < MIN_COVERAGE:
        raise SystemExit(f"{where}: stage_coverage {cov:.3f} < "
                         f"{MIN_COVERAGE}")
    print(f"ok  {where}: {len(metrics)} metrics"
          + (f", stage_coverage {cov:.3f}" if trace and cov else ""))


def main(argv):
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    workloads = argv or [w["name"] for w in bench["workloads"]]
    for workload in workloads:
        for trace, defs in ((0, bench["end_to_end"]),
                            (1, bench["per_layer"])):
            check(workload, trace, run(workload, trace), defs)
    print("selftest passed")


if __name__ == "__main__":
    main(sys.argv[1:])
