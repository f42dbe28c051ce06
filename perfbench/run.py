"""Benchmark entry point: the engine's batch, query and iterative paths.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 20

Run from the repository root. Generates the seed's input tables under
``.bench_data/``, runs the workload in a child process with a pinned
environment, prints a report, and prints one JSON object as the last
line of standard output. ``--trace 0`` reports the end-to-end metrics,
``--trace 1`` the per-layer ones. ``--workload all`` runs the three
workloads in turn. Exits non-zero, without a result line, when the
engine is missing or a run breaks.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from procstat import child_pids  # noqa: E402
from stats import bad_names  # noqa: E402

ENGINE = "chicago_business_owners_data_engineering_spark"
WORKLOADS = ("etl_full", "query_mix", "llm_iterative")
SF = 0.01
DRIVER_MEMORY = "2g"
RUN_TIMEOUT_S = 170
PR_SET_CHILD_SUBREAPER = 36
UNITS = {
    "live_mem_mb": "MB", "op_fail_ratio": "ratio", "exec.core_util": "ratio",
}


def unit_of(name: str) -> str:
    if name in UNITS:
        return UNITS[name]
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_pct"):
        return "pct"
    return "count"


def pinned_env(root: str, tmp: str) -> dict[str, str]:
    """Environment of every workload process: same values on every commit.

    Temporary files of Python, Spark and the JVM go under ``tmp``, so a
    run writes nothing outside the checkout.
    """
    env = dict(os.environ)
    env.update(
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        PYTHONPATH=root,
        TZ="UTC",
        PYTHONHASHSEED="0",
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem",
    )
    return env


def run_workload(root: str, workload: str, seed: int, seconds: float, trace: int, sf: float) -> dict:
    from datagen import generate

    data = generate(os.path.join(root, ".bench_data", f"sf{sf}-seed{seed}"), seed, sf)
    out_root = os.path.join(root, ".bench_out")
    os.makedirs(out_root, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=out_root, prefix=f"{workload}-") as work:
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp)
        env = pinned_env(root, tmp)
        result_path = os.path.join(work, "result.json")
        cmd = [
            sys.executable, os.path.join(HERE, "worker.py"),
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--data", data, "--work", work,
            "--result", result_path, "--spawned-at", repr(time.time()),
        ]
        # worker output goes to our stderr: stdout carries only the report
        proc = subprocess.Popen(cmd, cwd=root, env=env, stdout=sys.stderr, start_new_session=True)
        try:
            code = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, 9)
            proc.wait()
            raise RuntimeError(f"{workload}: no result within {RUN_TIMEOUT_S}s")
        finally:
            _reap(proc.pid)
        if code != 0 or not os.path.exists(result_path):
            raise RuntimeError(f"{workload}: worker exited with code {code}")
        with open(result_path) as f:
            result = json.load(f)
        if trace:
            spans = f"spans-{workload}-seed{seed}.json"
            os.replace(os.path.join(work, spans), os.path.join(out_root, spans))
    result["env"] = {k: env[k] for k in ("SPARK_DRIVER_MEMORY", "SPARK_GRAFT_CPUS", "PYTHONPATH", "TZ")}
    result["sf"] = sf
    return result


def _reap(pgid: int) -> None:
    """Stop anything the worker left behind and wait until it has ended.

    PySpark's daemon and its UDF workers leave the worker's process
    group; this process is a child subreaper (see ``main``), so once
    their parents are gone they are re-parented here and reaped below.
    """
    try:
        os.killpg(pgid, 9)
    except ProcessLookupError:
        pass
    while kids := child_pids(os.getpid()):
        for pid in kids:
            try:
                os.kill(pid, 9)
                os.waitpid(pid, 0)
            except (ProcessLookupError, ChildProcessError):
                pass


def report(result: dict) -> None:
    w = result["workload"]
    print(f"# {w}: sf={result['sf']} env={json.dumps(result['env'], sort_keys=True)}")
    print(f"# {w}: correct={result['correct']} attempted={result['attempted']} failed={result['failed']}")
    for section in ("metrics", "extra"):
        for name, value in result[section].items():
            print(f"{w}.{name} {value:.6g} {unit_of(name)}")


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=(*WORKLOADS, "all"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=SF, help="input scale factor")
    a = p.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, ENGINE)):
        print(f"perfbench: no {ENGINE}/ under {root}; run from the repository root", file=sys.stderr)
        return 2
    # orphaned descendants of the worker are re-parented to this process
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1)
    names = WORKLOADS if a.workload == "all" else (a.workload,)
    try:
        results = [run_workload(root, w, a.seed, a.seconds, a.trace, a.sf) for w in names]
    except RuntimeError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    for r in results:
        report(r)
    if len(results) == 1:
        metrics = results[0]["metrics"]
    else:
        metrics = {f"{r['workload']}.{k}": v for r in results for k, v in r["metrics"].items()}
    printed = [f"{r['workload']}.{k}" for r in results for k in (*r["metrics"], *r["extra"])]
    bad = bad_names([*printed, *metrics])
    if bad:
        print(f"perfbench: metric names break the naming rule: {bad}", file=sys.stderr)
        return 1
    line = {
        "correct": all(r["correct"] for r in results),
        "attempted": sum(r["attempted"] for r in results),
        "failed": sum(r["failed"] for r in results),
        "metrics": {k: {"value": v, "unit": unit_of(k.split(".", 1)[1] if len(results) > 1 else k)}
                    for k, v in metrics.items()},
    }
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
