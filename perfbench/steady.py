"""Steadiness check: runs one workload once per seed, in fresh processes,
and prints per end-to-end metric the median, the quartiles and the spread
(interquartile distance / median) against the metric's bound in
BENCHMARK.json. With ``--sets 2`` it runs the seeds twice and also prints
how far the second set's median moved from the first's, in the direction
that counts as worse.

    python3 perfbench/steady.py --workload spans_longtail --seeds 1-10 --sets 2

Raw results are kept in ``.perfbench/steady/<workload>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(workload: str, seed: int, seconds: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    if proc.returncode != 0:
        raise RuntimeError(f"seed {seed} failed:\n{proc.stderr[-3000:]}")
    lines = proc.stdout.strip().splitlines()
    print(f"  {lines[0]}", flush=True)
    result = json.loads(lines[-1])
    if not result["correct"]:
        raise RuntimeError(f"seed {seed}: outputs failed the correctness check: {result}")
    return {k: v["value"] for k, v in result["metrics"].items()}


def spread(values: list[float]) -> tuple[float, float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    ap.add_argument("--sets", type=int, default=1)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    seconds = bench["run_seconds"]

    sets: list[list[dict]] = []
    for s in range(a.sets):
        runs = []
        for seed in parse_seeds(a.seeds):
            runs.append(run_once(a.workload, seed, seconds))
            print(f"set {s + 1} seed {seed}: {json.dumps(runs[-1])}", flush=True)
        sets.append(runs)
    out_dir = os.path.join(ROOT, ".perfbench", "steady")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{a.workload}.json"), "w") as f:
        json.dump(sets, f, indent=1)

    print(f"{'metric':14s} {'set':>3s} {'median':>12s} {'q1':>12s} {'q3':>12s} "
          f"{'spread':>8s} {'bound':>6s} verdict")
    for name, m in metrics.items():
        medians = []
        for s, runs in enumerate(sets):
            med, q1, q3, sp = spread([r[name] for r in runs])
            medians.append(med)
            verdict = "ok" if sp < m["bound"] / 3 else "WIDE"
            print(f"{name:14s} {s + 1:3d} {med:12.4f} {q1:12.4f} {q3:12.4f} "
                  f"{sp:8.4f} {m['bound']:6.3f} {verdict}")
        for s in range(1, len(medians)):
            worse = (medians[s] - medians[0]) / medians[0]
            if m["better"] == "higher":
                worse = -worse
            print(f"{name:14s} set {s + 1} vs 1: worse by {worse:+.4f} "
                  f"({'ok' if worse <= m['bound'] else 'OVER BOUND'})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
