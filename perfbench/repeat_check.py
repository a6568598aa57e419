"""Exact-repeat check of the structural counters.

    python3 perfbench/repeat_check.py

Runs the traced run twice per workload with the same seed and compares the
per-layer metrics.  A count (calls, jobs, stages, tasks, bytes, hits, ...)
that reads the same in both runs is marked ``exact``: a later change may
rest a count claim on it.  Times are listed for reference and never marked.
Writes ``perfbench/REPEAT.json``.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
SPEC = json.loads((HERE.parent / "BENCHMARK.json").read_text())
SEED = 1


def traced(workload: str) -> dict:
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload,
           "--seed", str(SEED), "--seconds", str(SPEC["run_seconds"]),
           "--trace", "1"]
    proc = subprocess.run(cmd, cwd=HERE.parent, capture_output=True,
                          text=True, timeout=600)
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    if proc.returncode or not result["correct"]:
        raise SystemExit(f"{workload}: traced run failed\n{proc.stderr[-2000:]}")
    return {k: v["value"] for k, v in result["metrics"].items()}


def main() -> int:
    counters = [m["name"] for m in SPEC["per_layer"] if m["unit"] != "s"]
    report = {"seed": SEED, "workloads": {}}
    for w in (w["name"] for w in SPEC["workloads"]):
        a, b = traced(w), traced(w)
        report["workloads"][w] = {
            "exact": sorted(k for k in counters if a[k] == b[k]),
            "drifting": {k: [a[k], b[k]] for k in counters if a[k] != b[k]},
        }
        print(w, "drifting:", report["workloads"][w]["drifting"] or "none")
    (HERE / "REPEAT.json").write_text(json.dumps(report, indent=1) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
