"""Smoke test of the benchmark itself.

Runs a toy-sized configuration of each workload end to end, untraced and
traced, through the same command line the benchmark is run with, and
asserts that the last line is the result object, that every declared
metric appears with its declared unit, and that no check failed. The
traced runs' checks include ``run.check_layers``: a per-layer metric of a
layer the workload exercises that reads 0, or a crawl round whose named
spans cover less than ``run.COVERAGE_MIN`` of it, is a failed check.

Usage: ``python3 perfbench/smoke.py [workload ...]`` from the root of a
checkout; exit code 0 means every run passed. Takes a few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def check_run(workload: str, trace: int, spec: dict) -> list[str]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--toy"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        return [f"exit code {p.returncode}: {p.stderr[-2000:]}"]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    errs = []
    if sorted(out) != ["attempted", "correct", "failed", "metrics"]:
        errs.append(f"result keys {sorted(out)}")
    if not (out["correct"] and out["failed"] == 0 and out["attempted"] >= 1):
        errs.append(f"failed_frac = {out['failed']}/{out['attempted']}")
    want = spec["per_layer" if trace else "end_to_end"]
    got = out["metrics"]
    for m in want:
        if m["name"] not in got:
            errs.append(f"missing metric {m['name']}")
        elif got[m["name"]]["unit"] != m["unit"] or not isinstance(got[m["name"]]["value"], (int, float)):
            errs.append(f"bad metric {m['name']}: {got[m['name']]}")
    extra = set(got) - {m["name"] for m in want}
    if extra:
        errs.append(f"undeclared metrics {sorted(extra)}")
    if not trace:
        zero = [m["name"] for m in want if got.get(m["name"], {}).get("value") == 0]
        if zero:
            errs.append(f"end-to-end metrics read 0: {zero}")
    return errs


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = sys.argv[1:] or [w["name"] for w in spec["workloads"]]
    failed = 0
    for w in names:
        for trace in (0, 1):
            errs = check_run(w, trace, spec)
            print(f"{w} trace={trace}: {'ok' if not errs else 'FAIL'}", flush=True)
            for e in errs:
                print("   ", e)
            failed += bool(errs)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
