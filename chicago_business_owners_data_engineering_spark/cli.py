"""Pipeline CLI — the reference's orchestrator, Spark-first.

Mirrors cbddl/scripts/run_pipeline.py's mode surface
(``--mode {ingestion,analytics,full}``, run_pipeline.py:134-153) plus
the warehouse and streaming paths it drives from other entry points:

    python -m chicago_business_owners_data_engineering_spark.cli \
        --mode full --sf-dir /root/testdata/sf0.001 --out /tmp/lake

Modes:
  ingestion  quality-profile the raw tables, write cleaned Parquet +
             a JSON quality report into the lake's processed layer
             (run_pipeline.py:17-36 analog)
  analytics  run the analytics report queries, write each result as
             date-partitioned Parquet in the analytics layer
             (run_pipeline.py:38-55, 81-111 analog)
  warehouse  the six-stage staging→dims→facts→aggs→validate pipeline
             writing a bronze/silver/gold lake (etl/pipeline.py:33-83
             analog)
  stream     replay the events table through the micro-batch
             enrich→window pipeline into the lake
             (streaming_processor.py:395-418 analog)
  curate     the staged training-data curation funnel over documents
             (gate → model gate → dedup → containment → mixture → split → shard → card;
             plans/curation_pipeline.py)
  full       ingestion → warehouse → analytics

Every mode is driver-thin: it only composes lazy DataFrames from the
library and triggers writes; all heavy lifting happens in executors.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

from pyspark.sql import SparkSession

ANALYTICS_QUERIES = (
    "flagship_ownership_histogram",
    "a08_value_counts",
    "a09_topk_counts",
    "a16_shannon_entropy",
    "a17_gini_simpson",
    "a18_word_frequency",
    "a20_keyword_buckets",
    "dq01_quality_profile",
)


def _date_key() -> str:
    return time.strftime("%Y%m%d")


def run_ingestion_mode(spark: SparkSession, sf_dir: str, out_dir: str) -> dict:
    from .catalog import load_table
    from .registry import QUERIES
    from .sources.lake import LakeStorage

    lake = LakeStorage(out_dir)
    dk = _date_key()
    profile = QUERIES["dq01_quality_profile"](spark, sf_dir)
    lake.write_json(profile, "raw", "quality_report", dk)
    cleaned = load_table(spark, sf_dir, "orders")
    path = lake.write(cleaned, "processed", "orders", date_key=dk)
    return {"mode": "ingestion", "processed_path": path, "date_key": dk}


def run_analytics_mode(spark: SparkSession, sf_dir: str, out_dir: str) -> dict:
    from concurrent.futures import ThreadPoolExecutor

    from .registry import QUERIES
    from .sources.lake import LakeStorage

    lake = LakeStorage(out_dir)
    dk = _date_key()

    # The eight report queries are independent jobs writing to disjoint
    # paths; submitting them from a small driver pool (guide §2.6) lets
    # the next query's tasks back-fill executors freed by the current
    # one's tail instead of serializing eight per-job stragglers. All
    # eight are stateless aggregates (none pins through
    # catalog.generation), so concurrent construction is safe; 3 in
    # flight fills the tail without fighting for executors.
    def _run_one(name: str) -> tuple[str, str]:
        spark.sparkContext.setJobDescription(f"analytics:{name}")
        df = QUERIES[name](spark, sf_dir)
        return name, lake.write(df, "analytics", name, date_key=dk)

    with ThreadPoolExecutor(max_workers=3) as pool:
        written = dict(pool.map(_run_one, ANALYTICS_QUERIES))
    return {"mode": "analytics", "queries": sorted(written), "date_key": dk}


def run_warehouse_mode(spark: SparkSession, sf_dir: str, out_dir: str) -> dict:
    from .plans.warehouse import run_warehouse_pipeline

    validation = run_warehouse_pipeline(spark, sf_dir, os.path.join(out_dir, "warehouse"))
    checks = [r.asDict() for r in validation.collect()]
    status = "passed" if all(r.get("passed") for r in checks) else "FAILED"
    return {"mode": "warehouse", "validation": checks, "status": status}


def run_curate_mode(spark: SparkSession, sf_dir: str, out_dir: str) -> dict:
    from .plans.curation_pipeline import run_curation_pipeline

    card = run_curation_pipeline(spark, sf_dir, os.path.join(out_dir, "curation"))
    funnel = {r["stage"]: r["docs"] for r in card.collect()}
    return {"mode": "curate", "funnel": funnel}


def run_vector_mode(spark: SparkSession, sf_dir: str, out_dir: str) -> dict:
    from .catalog import load_table
    from .operators.similarity import TOP_K, query_vector
    from .plans.vector_pipeline import build_vector_index, query_vector_index

    vec_out = os.path.join(out_dir, "vector")
    card = build_vector_index(spark, sf_dir, vec_out)
    qv = query_vector(load_table(spark, sf_dir, "embeddings"))
    hits = query_vector_index(
        spark, sf_dir, vec_out, card.pop("codebook"), qv, top_k=TOP_K
    ).collect()
    return {"mode": "vector", **card, "top1": hits[0]["vec_id"] if hits else None}


def run_stream_mode(spark: SparkSession, sf_dir: str, out_dir: str) -> dict:
    import duckdb

    from .streaming.jobs import run_batched_stream_to_memory

    # Stage events as micros-precision parquet batches (the file-drop
    # source the reference's pollers map to).
    src = os.path.join(out_dir, "stream_src")
    ckpt = os.path.join(out_dir, "stream_ckpt")
    os.makedirs(src, exist_ok=True)
    pdf = duckdb.sql(f"SELECT * FROM '{sf_dir}/events.parquet' ORDER BY event_id").df()
    half = len(pdf) // 2
    pdf.iloc[:half].to_parquet(os.path.join(src, "batch1.parquet"))
    pdf.iloc[half:].to_parquet(os.path.join(src, "batch2.parquet"))
    out = run_batched_stream_to_memory(spark, src, ckpt, query_name="cli_stream")
    out.write.mode("overwrite").parquet(os.path.join(out_dir, "stream_out"))
    return {"mode": "stream", "windows": out.count()}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument(
        "--mode",
        choices=["ingestion", "analytics", "warehouse", "stream", "curate", "vector", "full"],
        default="full",
    )
    p.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    p.add_argument("--out", required=True, help="lake output root")
    args = p.parse_args(argv)

    from .session import get_spark

    spark = get_spark("cli")
    t0 = time.time()
    results = []
    modes = (
        ["ingestion", "warehouse", "analytics"] if args.mode == "full" else [args.mode]
    )
    runners = {
        "ingestion": run_ingestion_mode,
        "analytics": run_analytics_mode,
        "warehouse": run_warehouse_mode,
        "stream": run_stream_mode,
        "curate": run_curate_mode,
        "vector": run_vector_mode,
    }
    for mode in modes:
        results.append(runners[mode](spark, args.sf_dir, args.out))
    summary = {"modes": results, "elapsed_s": round(time.time() - t0, 2)}
    print(json.dumps(summary, default=str))
    return 0 if all(r.get("status", "passed") == "passed" for r in results) else 1


if __name__ == "__main__":
    sys.exit(main())
