"""Steadiness self-check: run a workload N times (one seed each) and
print, per end-to-end metric, the median, quartiles and spread next to
the bound fixed in BENCHMARK.json.

    python3 perfbench/selfcheck.py --workload serve --runs 10
    python3 perfbench/selfcheck.py --workload ingest --runs 5 --first-seed 100

spread = (Q3 - Q1) / median, with ``statistics.quantiles(values, n=4)``.
A metric is STEADY when its spread is below a third of its bound
(``setup_s`` is reported but only its median is gated).  Run from the
root of a checkout; each run is a fresh process, as in the real runs.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-3000:])
        raise SystemExit(f"run failed: workload={workload} seed={seed} exit={proc.returncode}")
    return json.loads(lines[-1])


def spread(values: list[float]) -> tuple[float, float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / abs(med) if med else float("inf")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values: dict[str, list[float]] = {name: [] for name in bounds}
    for i in range(args.runs):
        seed = args.first_seed + i
        out = run_once(args.workload, seed, bench["run_seconds"])
        if not out["correct"] or out["failed"]:
            raise SystemExit(f"seed {seed}: correct={out['correct']} failed={out['failed']}")
        for name in bounds:
            values[name].append(out["metrics"][name]["value"])
        print(f"seed {seed}: " + " ".join(f"{k}={v[-1]:.4g}" for k, v in values.items()),
              flush=True)
    print(f"\n{args.workload}: {args.runs} runs")
    print(f"{'metric':22} {'median':>12} {'Q1':>12} {'Q3':>12} {'spread':>7} {'bound':>6}  verdict")
    steady = True
    for name, vs in values.items():
        med, q1, q3, sp = spread(vs)
        ok = name == "setup_s" or sp < bounds[name] / 3
        steady &= ok
        print(f"{name:22} {med:12.4f} {q1:12.4f} {q3:12.4f} {sp:7.3f} {bounds[name]:6.2f}  "
              f"{'steady' if ok else 'NOISY'}")
    return 0 if steady else 1


if __name__ == "__main__":
    sys.exit(main())
