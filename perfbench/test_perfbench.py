"""Self-tests of the benchmark: statistics, names, inputs, and a smoke run.

    python3 -m pytest perfbench/test_perfbench.py -q

The smoke tests start Spark and take a few minutes; the others are
instant.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from datagen import tables  # noqa: E402
from stats import bad_names, tail_percentile  # noqa: E402


def test_tail_percentile_leaves_ten_samples_beyond():
    xs = [float(i) for i in range(1, 121)]  # 120 distinct samples
    p, value, beyond = tail_percentile(xs)
    assert (p, value, beyond) == (91, 110.0, 10)


def test_tail_percentile_small_and_tied_inputs():
    assert tail_percentile([1.0] * 10) is None
    assert tail_percentile([float(i) for i in range(10)]) is None
    # 20 samples: the median is the highest percentile with ten above it
    p, value, beyond = tail_percentile([float(i) for i in range(20)])
    assert (p, value, beyond) == (50, 9.0, 10)
    # ties at the top push the percentile down until ten lie beyond
    xs = [1.0] * 30 + [5.0] * 5 + [9.0] * 10
    p, value, beyond = tail_percentile(xs)
    assert value == 5.0 and beyond == 10 and p == 77


def test_name_rule():
    assert bad_names(["query_mix.pass_s", "exec.shuffle_write_bytes", "gr01_pagerank.exec_s"]) == []
    assert bad_names(["has space", "slash/name", "_leading", "x" * 65]) == [
        "has space", "slash/name", "_leading", "x" * 65,
    ]


def test_declared_names_follow_the_rule():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    names += [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert bad_names(names) == []
    assert len(set(names)) == len(names)


def test_inputs_are_a_function_of_the_seed():
    a, b, c = tables(3, 0.001), tables(3, 0.001), tables(4, 0.001)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert a["lineitem"].num_rows == c["lineitem"].num_rows


UDF_CPU_PROBE = r"""
import json, os, sys, time
import pandas as pd
from pyspark.sql.functions import pandas_udf
from chicago_business_owners_data_engineering_spark.session import get_spark
from procstat import tree_cpu_s

def burn(seconds):
    @pandas_udf("long")
    def f(x: pd.Series) -> pd.Series:
        t = time.process_time()
        while time.process_time() - t < seconds:
            pass
        return x
    return f

spark = get_spark("perfbench-udf-cpu")
out = []
# the first run starts PySpark's daemon and its UDF workers
for seconds in (0.0, 0.0, 2.0):
    df = spark.range(0, 4, 1, 4).select(burn(seconds)("id"))
    before = tree_cpu_s(os.getpid())
    df.collect()
    out.append(tree_cpu_s(os.getpid()) - before)
spark.stop()
print(json.dumps(out))
"""


def test_cpu_counts_the_python_udf_workers(tmp_path):
    """Four Arrow UDF batches that each burn 2 s of CPU add about 8 s.

    The assertion leaves half of that as margin: the JVM's own CPU
    (JIT, GC) moves by a second or two between two small jobs.
    """
    from run import pinned_env

    env = pinned_env(ROOT, str(tmp_path))
    env["PYTHONPATH"] = os.pathsep.join([ROOT, HERE])
    out = subprocess.run([sys.executable, "-c", UDF_CPU_PROBE], cwd=ROOT, env=env,
                         capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    _, light, heavy = json.loads(out.stdout.strip().splitlines()[-1])
    assert heavy - light >= 0.5 * 4 * 2.0, (light, heavy)


def _run(args, cwd):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=900,
    )


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    out = _run(["--workload", "query_mix", "--seed", "1", "--seconds", "1", "--trace", "0"], str(tmp_path))
    assert out.returncode != 0
    assert out.stdout.strip() == ""


@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_all_workloads(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    out = _run(
        ["--workload", "all", "--seed", "1", "--seconds", "1", "--trace", str(trace), "--sf", "0.001"],
        ROOT,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0, out.stderr[-3000:]
    declared = spec["per_layer" if trace else "end_to_end"]
    for workload in ("etl_full", "query_mix", "llm_iterative"):
        for m in declared:
            metric = result["metrics"][f"{workload}.{m['name']}"]
            assert metric["unit"] == m["unit"]
            assert isinstance(metric["value"], (int, float))
    assert bad_names(line.split()[0] for line in out.stdout.splitlines()[:-1] if not line.startswith("#")) == []
