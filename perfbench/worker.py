"""One benchmark run of one workload, in its own process.

Started by ``run.py`` with the pinned environment. Sets up a session,
runs a first pass in the fresh session, then steady passes until the
passes add up to the requested seconds (at least one steady pass), and
writes a JSON result to ``--result``. With ``--trace 1`` steady passes
alternate untraced and traced, and the result holds the per-layer
numbers instead of the end-to-end ones.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np

from procstat import jvm_live_mb, vm_hwm_mb
from stats import median, tail_percentile

# Pass 0 runs in the fresh session (first_pass_s); steady passes start
# at 1. A separate warm-up pass would not make them steadier: the JIT
# still takes a fifth to a third of a pass's CPU in the fourth pass, and
# runs have to stay short for ten of them per workload and commit.
WARM_PASSES = 1


def setup(spawned_at: float) -> dict:
    """Process start to a warm session: JVM, registry import, catalog."""
    t0 = time.time()
    from chicago_business_owners_data_engineering_spark.session import get_spark

    spark = get_spark("perfbench")
    t1 = time.time()
    from chicago_business_owners_data_engineering_spark import registry

    registry.get_queries()
    t2 = time.time()
    # warm-up: one trivial job, so the first pass does not pay for the
    # scheduler's and codegen's very first use
    spark.range(1).count()
    t3 = time.time()
    return {
        "spark": spark,
        "setup_s": t3 - spawned_at,
        "session.start_s": t1 - t0,
        "registry.import_s": t2 - t1,
    }


def load_table_probe(spark, sf_dir: str, reps: int = 3) -> float:
    from chicago_business_owners_data_engineering_spark.catalog import load_table
    from workloads import TABLES

    times = []
    for name in TABLES:
        for _ in range(reps):
            t = time.time()
            load_table(spark, sf_dir, name)
            times.append(time.time() - t)
    return median(times)


def pass_totals(ops: list[dict]) -> dict:
    keys = ("wall_s", "exec_wall_s", "jobs", "stages", "tasks", "executor_run_s",
            "executor_cpu_s", "gc_s", "shuffle_write_bytes", "shuffle_read_bytes",
            "spill_bytes", "input_bytes", "output_bytes")
    return {k: sum(op.get(k, 0) for op in ops) for k in keys}


def end_to_end(ops: list[dict], passes: list[dict], workload: str) -> tuple[dict, dict]:
    """Declared end-to-end metrics, plus workload-specific extras."""
    steady = [p for p in passes if p["pass"] >= WARM_PASSES]
    steady_ops = [op for op in ops if op["pass"] >= WARM_PASSES]
    walls = [op["wall_s"] for op in steady_ops]
    metrics = {
        "first_pass_cpu_s": passes[0]["cpu_s"],
        "pass_cpu_s": median([p["cpu_s"] for p in steady]),
    }
    # pass wall times move with the host's load more than any bound
    # allows, so they are reported but not declared
    extra = {
        "first_pass_s": passes[0]["wall_s"],
        "pass_s": median([p["wall_s"] for p in steady]),
        "op_p50_s": median(walls),
        "steady_passes": len(steady),
        "steady_ops": len(walls),
    }
    tail = tail_percentile(walls)
    if tail:
        extra.update(op_tail_s=tail[1], op_tail_pct=tail[0], op_tail_beyond=tail[2])
    if workload == "query_mix":
        extra["query_p50_s"] = extra["op_p50_s"]
        if tail:
            extra["query_tail_s"] = tail[1]
    if workload == "llm_iterative":
        for label, names in (("vector_s", ("vector_build", "vector_serve")),
                             ("fixpoint_s", ("gr01_pagerank", "gr05_kcore",
                                             "gr07_lpa_communities", "dd06_neardup_components"))):
            per_pass = [sum(op["wall_s"] for op in steady_ops if op["pass"] == p["pass"] and op["name"] in names)
                        for p in steady]
            extra[label] = median(per_pass)
    return metrics, extra


def per_layer(ops: list[dict], passes: list[dict], probes: list[dict], cores: int) -> tuple[dict, dict]:
    traced = [p for p in passes if p["traced"]]
    untraced = [p for p in passes if p["pass"] >= WARM_PASSES and not p["traced"]]
    totals = [pass_totals([op for op in ops if op["pass"] == p["pass"]]) for p in traced]

    def med(key):
        return median([t[key] for t in totals])

    constructed = [op for op in ops if op["traced"] and "construct_s" in op] + probes
    metrics = {
        "operators.construct_s": median([op["construct_s"] for op in constructed]),
        "operators.construct_jobs": median([
            sum(op["construct_jobs"] for op in constructed if op["pass"] == p["pass"]) for p in traced
        ]),
        "planner.plan_s": median([op["plan_s"] for op in constructed]),
        "driver.nojob_s": median([t["wall_s"] - t["exec_wall_s"] for t in totals]),
        "exec.wall_s": med("exec_wall_s"),
        "exec.jobs": med("jobs"),
        "exec.stages": med("stages"),
        "exec.tasks": med("tasks"),
        "exec.executor_run_s": med("executor_run_s"),
        "exec.executor_cpu_s": med("executor_cpu_s"),
        "exec.gc_s": med("gc_s"),
        "exec.shuffle_write_bytes": med("shuffle_write_bytes"),
        "exec.shuffle_read_bytes": med("shuffle_read_bytes"),
        "exec.spill_bytes": med("spill_bytes"),
        "exec.input_bytes": med("input_bytes"),
        "exec.output_bytes": med("output_bytes"),
        "exec.core_util": median([t["executor_run_s"] / (t["wall_s"] * cores) for t in totals]),
        "trace.overhead_s": median([p["wall_s"] for p in traced]) - median([p["wall_s"] for p in untraced]),
    }
    # workload-specific layers: per-span medians over traced passes
    extra: dict[str, float] = {}
    by_name: dict[str, list[dict]] = {}
    for op in ops:
        if op["traced"] and op["ok"]:
            by_name.setdefault(op["name"], []).append(op)
    prefix = {"ingestion": "cli.ingestion", "analytics": "cli.analytics",
              "warehouse": "warehouse.total", "vector_build": "vector_pipeline.build",
              "vector_serve": "vector_pipeline.serve"}
    for name, spans in sorted(by_name.items()):
        if name in prefix:
            extra[f"{prefix[name]}_s"] = median([s["wall_s"] for s in spans])
        else:
            extra[f"{name}.construct_s"] = median([s["construct_s"] for s in spans])
            extra[f"{name}.exec_s"] = median([s["exec_s"] for s in spans])
            extra[f"{name}.construct_jobs"] = median([s["construct_jobs"] for s in spans])
        extra[f"{name}.jobs"] = median([s["jobs"] for s in spans])
    return metrics, extra


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--data", required=True)
    p.add_argument("--work", required=True)
    p.add_argument("--result", required=True)
    p.add_argument("--spawned-at", type=float, required=True)
    a = p.parse_args()

    s = setup(a.spawned_at)
    spark = s.pop("spark")
    from tracer import Tracer
    from workloads import WORKLOADS, Runner

    tracer = Tracer(spark) if a.trace else None
    runner = Runner(spark, a.data, a.work, tracer)
    workload = WORKLOADS[a.workload](runner)
    rng = np.random.default_rng(a.seed)
    layer_probe = {"catalog.load_table_s": load_table_probe(spark, a.data)} if a.trace else {}

    passes: list[dict] = []
    probes: list[dict] = []
    measured_s = 0.0
    # whole passes until --seconds are measured, the first pass included.
    # A traced run's steady passes alternate untraced and traced, and
    # start and end untraced, so the JIT's warm-up trend cancels out of
    # the traced-minus-untraced overhead.
    min_passes = WARM_PASSES + (3 if a.trace else 1)
    while (len(passes) < min_passes or measured_s < a.seconds
           or (a.trace and (len(passes) - WARM_PASSES) % 2 == 0)):
        n = len(passes)
        runner.pass_no = n
        runner.traced = bool(a.trace) and n > WARM_PASSES and (n - WARM_PASSES) % 2 == 1
        spark.catalog.clearCache()
        before = len(runner.ops)
        workload.run_pass(rng)
        wall = sum(op["wall_s"] for op in runner.ops[before:])
        cpu = sum(op["cpu_s"] for op in runner.ops[before:])
        passes.append({"pass": n, "traced": runner.traced, "wall_s": wall, "cpu_s": cpu})
        measured_s += wall
        if runner.traced:
            for name in workload.probe_queries():
                op = {"pass": n, "name": name}
                first = tracer.mark()
                _, phases = runner.construct_plan(name)
                op.update(phases)
                op["construct_jobs"] = tracer.mark() - first
                probes.append(op)
        print(f"[perfbench] {a.workload} pass {n} traced={runner.traced} {wall:.3f}s at {time.time() - a.spawned_at:.1f}s", file=sys.stderr)

    ops = runner.ops
    failed = [op for op in ops if not op["ok"]]
    for op in failed:
        print(f"[perfbench] FAILED {op['name']} pass {op['pass']}: {op['error']}", file=sys.stderr)
    result = {
        "workload": a.workload,
        "attempted": len(ops),
        "failed": len(failed),
        "correct": not failed,
    }
    if a.trace:
        cores = spark.sparkContext.defaultParallelism
        metrics, extra = per_layer(ops, passes, probes, cores)
        metrics = {
            "session.start_s": s["session.start_s"],
            "registry.import_s": s["registry.import_s"],
            **layer_probe,
            **metrics,
        }
        tracer.write(os.path.join(a.work, f"spans-{a.workload}-seed{a.seed}.json"))
    else:
        metrics, extra = end_to_end(ops, passes, a.workload)
        metrics = {"setup_s": s["setup_s"], **metrics,
                   "live_mem_mb": vm_hwm_mb("self") + jvm_live_mb(spark)}
        extra["op_fail_ratio"] = len(failed) / len(ops)
    if isinstance(workload, WORKLOADS["etl_full"]):
        for stage in workload.stage_timings[0]:
            # a failed pipeline leaves the stages after the failure out
            times = [t[stage] for t, p in zip(workload.stage_timings, passes)
                     if stage in t and p["pass"] >= WARM_PASSES and p["traced"] == bool(a.trace)]
            if times:
                extra[f"warehouse.{stage}_s"] = median(times)
    result.update(metrics=metrics, extra=extra, passes=passes)
    runner.close()
    spark.stop()
    with open(a.result, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
