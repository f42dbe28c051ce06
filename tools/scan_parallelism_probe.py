"""Scan-parallelism probe: single-row-group file vs multi-file layout.

PERF.md claims the local bench floor (~0.3 s/query) is scan + driver
latency because every test parquet is ONE file with ONE row group —
Spark splits files by byte range, but the task holding the row-group
midpoint decodes all of it, so scans are inherently 1 task locally no
matter what `spark.sql.files.maxPartitionBytes` says. This probe
MEASURES that claim: it copies sf0.1 lineitem into /tmp as N files,
runs the same scan-heavy aggregate on both layouts, and prints the
per-layout stage timings.

Usage: python tools/scan_parallelism_probe.py [sf_dir] [n_files]
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F

from chicago_business_owners_data_engineering_spark.session import get_spark


def scan_agg(df):
    return (
        df.groupBy("l_returnflag")
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
            F.count("*").alias("n"),
        )
    )


def best_of(fn, runs: int = 3) -> float:
    samples = []
    for _ in range(runs):
        t0 = time.time()
        fn()
        samples.append(time.time() - t0)
    return round(min(samples), 3)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_files = int(sys.argv[2]) if len(sys.argv) > 2 else 32
    spark = get_spark("scan-probe")
    single = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    # warm: JVM + codegen + OS page cache for the source file
    scan_agg(single).count()

    tmp = tempfile.mkdtemp(prefix="scan_probe_")
    try:
        multi_path = f"{tmp}/lineitem_multi"
        single.repartition(n_files).write.mode("overwrite").parquet(multi_path)
        multi = spark.read.parquet(multi_path)
        scan_agg(multi).count()  # warm the multi-file layout too

        t_single = best_of(lambda: scan_agg(single).count())
        t_multi = best_of(lambda: scan_agg(multi).count())
        tasks_single = single.rdd.getNumPartitions()
        tasks_multi = multi.rdd.getNumPartitions()
        print(
            json.dumps(
                {
                    "sf_dir": sf_dir,
                    "n_files": n_files,
                    "single_file_sec": t_single,
                    "multi_file_sec": t_multi,
                    "speedup": round(t_single / t_multi, 2) if t_multi else None,
                    "scan_partitions_single": tasks_single,
                    "scan_partitions_multi": tasks_multi,
                }
            )
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
