"""CSV ingestion (S1) and UDF-surface (U1–U4) tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from chicago_business_owners_data_engineering_spark.functions.udfs import (
    leadership_score_apply_in_pandas,
    register_sql_udfs,
)
from chicago_business_owners_data_engineering_spark.registry import QUERIES
from chicago_business_owners_data_engineering_spark.sources.ingestion import (
    clean_business_owners,
    quality_metrics,
    read_business_owners_csv,
    run_ingestion,
)

CSV = """ACCOUNT NUMBER,LEGAL NAME,OWNER FIRST NAME,OWNER MIDDLE INITIAL,OWNER LAST NAME,SUFFIX,LEGAL ENTITY OWNER,TITLE
1, acme corp ,jane,q,doe,,N/A,president
1,acme corp,john,,smith,jr,NULL,ceo
2,solo llc,,,,,HOLDINGS LLC,manager
3,widgets inc,amy,,wong,, ,owner
"""


@pytest.fixture()
def csv_path(tmp_path):
    p = tmp_path / "owners.csv"
    p.write_text(CSV)
    return str(p)


def test_csv_ingestion_cleans_and_derives(spark, csv_path):
    cleaned = clean_business_owners(read_business_owners_csv(spark, csv_path))
    rows = {(r["account_number"], r["owner_full_name"]): r for r in cleaned.collect()}

    jane = rows[(1, "JANE Q DOE")]
    assert jane["legal_name"] == "ACME CORP"  # trimmed + uppered
    assert jane["legal_entity_owner"] is None  # N/A → NULL
    assert jane["is_individual_owner"] is True
    assert jane["has_multiple_owners"] is True  # two owners on account 1

    corp = rows[(2, "")]
    assert corp["is_individual_owner"] is False
    assert corp["has_multiple_owners"] is False

    amy = rows[(3, "AMY WONG")]
    assert amy["legal_entity_owner"] is None  # whitespace-only → NULL
    assert amy["is_individual_owner"] is True


def test_quality_metrics_shape(spark, csv_path):
    cleaned = clean_business_owners(read_business_owners_csv(spark, csv_path))
    q = quality_metrics(cleaned).collect()[0]
    assert q["total_rows"] == 4
    assert q["unique_accounts"] == 3
    assert q["duplicate_rows"] == 0
    assert q["account_number_completeness_pct"] == 100.0


def test_run_ingestion_roundtrip(spark, csv_path, tmp_path):
    out, quality = run_ingestion(spark, csv_path, str(tmp_path / "owners.parquet"))
    assert out.count() == 4
    assert "owner_full_name" in out.columns
    assert quality.collect()[0]["total_rows"] == 4


def test_sql_udf_registration(spark):
    register_sql_udfs(spark)
    got = spark.sql(
        "SELECT role_category('Chief CEO') AS a, role_category('Store Manager') AS b, "
        "role_category('Clerk') AS c, role_category(NULL) AS d"
    ).collect()[0]
    assert (got["a"], got["b"], got["c"], got["d"]) == (
        "leadership",
        "management",
        "staff",
        "unknown",
    )


def test_apply_in_pandas_matches_native_window(spark, sf_dir):
    scored = leadership_score_apply_in_pandas(
        spark.read.parquet(f"{sf_dir}/events.parquet").select("user_id", "event_type")
    )
    native = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.countDistinct("event_type") / F.count("*"), 6).alias("diversity_score"),
        )
    )
    got = {r["user_id"]: (r["n_events"], r["diversity_score"]) for r in scored.collect()}
    want = {r["user_id"]: (r["n_events"], r["diversity_score"]) for r in native.collect()}
    assert got == want


def test_approx_distinct_error_bound(spark, sf_dir):
    """Raw HLL++ estimate lands within 5% of exact, and the registry
    query's checked bound booleans (the oracle contract) are all TRUE."""
    from chicago_business_owners_data_engineering_spark.operators.extended import (
        a02_raw_estimates,
    )

    raw = a02_raw_estimates(spark, sf_dir).collect()[0]
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    exact_orders = lineitem.select("l_orderkey").distinct().count()
    assert raw["exact_orders"] == exact_orders
    assert abs(raw["approx_orders"] - exact_orders) / exact_orders < 0.05
    checked = QUERIES["a02_approx_distinct"](spark, sf_dir).collect()[0]
    assert checked["orders_within_bound"] and checked["parts_within_bound"]
    assert checked["exact_orders"] == exact_orders


def test_hll_union_matches_direct_sketch(spark, sf_dir):
    """Merging per-partition sketches must agree with one global sketch
    (sub-1% register-encoding drift) and land inside the lgK=12 error
    bound of the exact distinct — the property that makes the gold-layer
    sketch table trustworthy. The registry query reduces exactly these
    assertions to oracle-pinned booleans; check both layers."""
    from chicago_business_owners_data_engineering_spark.operators.extended import (
        a29_raw_estimates,
    )

    row = a29_raw_estimates(spark, sf_dir).collect()[0]
    assert row["num_partition_sketches"] > 1
    assert abs(row["merged_estimate"] - row["direct_estimate"]) <= max(
        1, 0.01 * row["exact_distinct"]
    )
    for est in (row["merged_estimate"], row["direct_estimate"]):
        assert abs(est - row["exact_distinct"]) / row["exact_distinct"] < 0.05
    checked = QUERIES["a29_hll_sketch_union"](spark, sf_dir).collect()[0]
    assert checked["merged_within_bound"]
    assert checked["direct_within_bound"]
    assert checked["merged_direct_close"]
    assert checked["exact_distinct"] == row["exact_distinct"]


def test_percentile_approx_close_to_exact(spark, sf_dir):
    exact = QUERIES["a25_quantiles"](spark, sf_dir).collect()[0]
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    approx = orders.agg(
        F.percentile_approx("o_totalprice", 0.5, 10000).alias("p50")
    ).collect()[0]
    assert approx["p50"] == pytest.approx(exact["p50"], rel=0.01)


def test_hyperplane_lsh_recall(spark, sf_dir):
    exact = {
        (r["vec_a"], r["vec_b"])
        for r in QUERIES["sim02_near_dup_vectors"](spark, sf_dir).collect()
    }
    lsh = {
        (r["vec_a"], r["vec_b"])
        for r in QUERIES["sim05_hyperplane_lsh"](spark, sf_dir).collect()
    }
    assert lsh <= exact  # no false positives (exact verify pass)
    if exact:
        assert len(lsh) / len(exact) > 0.15  # probabilistic recall floor


def test_arrow_udf_matches_native_bucket(spark):
    """u06's Python md5 bucket is bit-identical to the JVM md5/conv
    path AND to functions.sampling's md5_bucket used by every splitter."""
    from chicago_business_owners_data_engineering_spark.functions.sampling import (
        md5_bucket as _md5_bucket,
    )
    import hashlib

    df = spark.createDataFrame([(i,) for i in range(500)], "doc_id long")
    native = {r.doc_id: r.b for r in df.select("doc_id", _md5_bucket(F.col("doc_id")).alias("b")).collect()}
    for i in range(500):
        py = int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) % 100
        assert native[i] == py
