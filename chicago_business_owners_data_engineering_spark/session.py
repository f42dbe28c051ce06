"""SparkSession factory.

One place for every engine-level knob so tests, the bench harness, the
driver entry point, and the pipelines all run with the same posture:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting,
  dynamic broadcast selection) — the replacement for every hand-rolled
  batching/parallelism tactic in the reference (chunked reads, worker
  pools; cbddl/src/etl/pipeline.py:31,89-96).
- Arrow on for every pandas interchange (pandas_udf / applyInPandas /
  toPandas).
- Shuffle partitions sized to the local core count instead of the 200
  default; on a real cluster this is overridden per-job (AQE coalesces
  down from a high initial number, so err high there).
- Session timezone pinned to UTC so timestamp semantics are stable and
  comparable against external engines (DuckDB stores UTC-naive).
"""

from __future__ import annotations

import math
import os
import re

from pyspark.sql import SparkSession


def cpus_for(affinity: int, cpu_max: str | None) -> int:
    """CPUs a process may use, given the size of its affinity mask and
    the text of its cgroup v2 ``cpu.max`` (``"<quota> <period>"``, or
    ``"max <period>"`` for no limit; None when there is no such file):
    the smaller of the mask and the quota rounded up to whole CPUs.
    ``os.cpu_count()`` reports the host's cores instead, which
    oversubscribes a CPU-limited container."""
    if cpu_max:
        quota, period = cpu_max.split()
        if quota != "max":
            return max(1, min(affinity, math.ceil(int(quota) / int(period))))
    return affinity


def default_parallelism() -> int:
    """``$SPARK_GRAFT_CPUS`` when exported, else :func:`cpus_for` this
    process."""
    if "SPARK_GRAFT_CPUS" in os.environ:
        return int(os.environ["SPARK_GRAFT_CPUS"])
    try:
        with open("/sys/fs/cgroup/cpu.max") as f:
            cpu_max = f.read()
    except OSError:  # cgroup v1, or not Linux: no quota to honour
        cpu_max = None
    if hasattr(os, "sched_getaffinity"):
        affinity = len(os.sched_getaffinity(0))
    else:  # not Linux: no affinity mask to read
        affinity = os.cpu_count() or 8
    return cpus_for(affinity, cpu_max)


def driver_memory_for(meminfo: str) -> str:
    """Driver heap for a host, given its ``/proc/meminfo`` text: about
    60% of MemTotal in whole GiB, at least 1g and at most 16g. The heap
    is committed up front (see get_spark), so it must leave the rest of
    the host's memory to the OS, the Python driver and its workers."""
    kib = int(re.search(r"^MemTotal:\s+(\d+) kB", meminfo, re.M).group(1))
    return f"{max(1, min(16, kib * 6 // 10 // 2**20))}g"


def _host_driver_memory() -> str:
    try:
        with open("/proc/meminfo") as f:
            return driver_memory_for(f.read())
    except OSError:  # no procfs (not Linux): keep the former fixed size
        return "16g"


def get_spark(
    app_name: str = "chicago-business-owners-spark",
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    The master is always set: ``$SPARK_MASTER`` when exported, else
    ``local[N]`` with N from :func:`default_parallelism`.
    """
    cpus = default_parallelism()
    driver_mem = os.environ.get("SPARK_DRIVER_MEMORY") or _host_driver_memory()
    # Commit + pre-touch the whole heap at JVM start (-Xms = -Xmx,
    # AlwaysPreTouch). Measured on this host (virtualized, lazily
    # faulted guest memory): a FIRST-touch page fault costs ~83 µs —
    # 2 GB of fresh heap is ~43 s of kernel time — so a growing G1
    # heap injects multi-second "futex storm"-looking sys-time stalls
    # into whatever query happens to allocate next (per-thread kernel
    # profiling in OPTIMIZATION_r10.md). Pre-touching moves that cost
    # to session startup ONCE (~60 s cold VM, ~2 s after the pool is
    # warm) and pins the heap committed so G1 never uncommits and
    # re-faults it. Standard practice for latency-sensitive JVMs on
    # real clusters too (same flags apply to executors via
    # spark.executor.extraJavaOptions there). Override via
    # SPARK_GRAFT_DRIVER_JAVA_OPTS if an environment can't commit Xms
    # up front.
    driver_opts = os.environ.get(
        "SPARK_GRAFT_DRIVER_JAVA_OPTS",
        f"-Xms{driver_mem} -XX:+AlwaysPreTouch",
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_MASTER", f"local[{cpus}]"))
        .config("spark.driver.extraJavaOptions", driver_opts)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.session.timeZone", "UTC")
        # Generated-class cache: the 100-entry default thrashes under
        # this engine's plan diversity (one iterative query alone emits
        # 20-90 codegen units per run; measured via CodegenMetrics —
        # repeat executions recompiled 40-90 classes each with the
        # default, 0 with the larger cache). Misses serialize task
        # threads on the compile KeyLock and burn Janino time; the
        # cache holds class references only, so the cost is metaspace
        # already paid. Same knob matters on long-lived cluster
        # executors serving many distinct plans.
        .config("spark.sql.codegen.cache.maxEntries", "10000")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", driver_mem)
        # Files >128MB split into tasks; at 100 TB this is the scan-side
        # parallelism knob together with the parquet row-group size.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
