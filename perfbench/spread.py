"""Run-to-run spread of the benchmark's metrics, and same-code agreement.

    # ten runs, one per seed; prints median, quartiles and spread per metric
    python3 perfbench/spread.py --workload query_mix --seeds 1-10 --seconds 20 --out a.jsonl
    # two sets of runs of the same code: median shift per metric, and the
    # seeds whose counters (jobs, stages, tasks, shuffle bytes) differ
    python3 perfbench/spread.py --compare a.jsonl b.jsonl

Spread is the distance between the first and third quartile
(``statistics.quantiles(values, n=4)``) as a share of the median.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
EXACT = ("exec.jobs", "exec.stages", "exec.tasks", "exec.shuffle_write_bytes")


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summarize(rows: list[dict]) -> dict[str, tuple[float, float, float, float]]:
    out = {}
    for name in rows[0]["metrics"]:
        values = [r["metrics"][name]["value"] for r in rows]
        q1, med, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else values * 3
        out[name] = (med, q1, q3, (q3 - q1) / med if med else float("nan"))
    return out


def run(a) -> int:
    rows = []
    for seed in seeds(a.seeds):
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
               "--seed", str(seed), "--seconds", str(a.seconds), "--trace", str(a.trace)]
        proc = subprocess.run(cmd, capture_output=True, text=True)
        if proc.returncode != 0:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            return 1
        row = json.loads(proc.stdout.strip().splitlines()[-1])
        row["seed"] = seed
        rows.append(row)
        print(f"seed {seed}: correct={row['correct']} failed={row['failed']}/{row['attempted']}", file=sys.stderr)
        if a.out:
            with open(a.out, "a") as f:
                f.write(json.dumps(row) + "\n")
    print(f"{'metric':32} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8}")
    for name, (med, q1, q3, spread) in summarize(rows).items():
        print(f"{name:32} {med:12.6g} {q1:12.6g} {q3:12.6g} {spread:8.3f}")
    return 0 if all(r["correct"] for r in rows) else 1


def compare(path_a: str, path_b: str) -> int:
    sets = []
    for path in (path_a, path_b):
        with open(path) as f:
            sets.append([json.loads(line) for line in f if line.strip()])
    sa, sb = summarize(sets[0]), summarize(sets[1])
    print(f"{'metric':32} {'median a':>12} {'median b':>12} {'shift':>8}")
    for name in sa:
        shift = (sb[name][0] - sa[name][0]) / sa[name][0] if sa[name][0] else float("nan")
        print(f"{name:32} {sa[name][0]:12.6g} {sb[name][0]:12.6g} {shift:8.3f}")
    by_seed = {r["seed"]: r for r in sets[0]}
    mismatched = 0
    for r in sets[1]:
        other = by_seed.get(r["seed"])
        for name in EXACT:
            if other and name in r["metrics"]:
                va, vb = other["metrics"][name]["value"], r["metrics"][name]["value"]
                if va != vb:
                    mismatched += 1
                    print(f"seed {r['seed']}: {name} {va} != {vb}")
    print(f"counters differing: {mismatched}")
    return 1 if mismatched else 0


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload")
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--seconds", type=float, default=15)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--out", help="append each run's result line to this file")
    p.add_argument("--compare", nargs=2, metavar=("A", "B"))
    a = p.parse_args()
    if a.compare:
        return compare(*a.compare)
    if not a.workload:
        p.error("--workload is required unless --compare is given")
    return run(a)


if __name__ == "__main__":
    sys.exit(main())
