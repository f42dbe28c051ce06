"""Extended operator surface beyond the reference's literal inventory.

SURVEY.md §2.4 notes grouping sets / cube / rollup, approximate
aggregates, and pivot as absent from the reference but trivially
exposed by the engine — this module makes them first-class registry
entries, plus the approximate-distinct scale path and a
random-hyperplane LSH for embeddings (the vector analog of dd04).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table
from ..registry import query
from .shared_oracles import cos_sql
# NOTE: .similarity is imported lazily where needed — a module-level
# import would leave similarity partially initialized whenever
# similarity itself is the first module imported (it pulls in registry,
# which imports extended before similarity finishes).


def a02_raw_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ estimates next to the exact distincts, one aggregate.

    Exposed separately so tests can inspect the raw (engine-specific)
    estimates; the registry query folds them into engine-portable
    bound checks.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    return lineitem.agg(
        F.approx_count_distinct("l_orderkey", 0.02).alias("approx_orders"),
        F.approx_count_distinct("l_partkey", 0.02).alias("approx_parts"),
        F.countDistinct("l_orderkey").alias("exact_orders"),
        F.countDistinct("l_partkey").alias("exact_parts"),
    )


@query(
    "a02_approx_distinct",
    oracle="""
    SELECT COUNT(DISTINCT l_orderkey) AS exact_orders,
           COUNT(DISTINCT l_partkey) AS exact_parts,
           TRUE AS orders_within_bound,
           TRUE AS parts_within_bound
    FROM lineitem
    """,
)
def a02_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) — the 100 TB form of A2.

    Exact distinct shuffles every key; the HLL sketch aggregates
    map-side into a fixed-size buffer. The raw estimate is
    engine-specific, so the CHECKED contract is the error bound: the
    query emits the exact distincts plus booleans asserting
    ``|est - exact| <= 5·rsd·exact`` (rsd=0.02 → 10%, a ≥5σ envelope
    for HLL++'s target relative standard deviation), and the DuckDB
    oracle replays the exact counts with TRUE literals for the bounds.
    A sketch drifting past its advertised error now FAILS the
    differential gate instead of hiding behind rows-only. The exact
    legs exist to certify the estimate — at 100 TB the production form
    is the sketch alone (see a29 for the mergeable-partition variant).
    """
    raw = a02_raw_estimates(spark, sf_dir)
    within = lambda est, exact: (  # noqa: E731
        F.abs(F.col(est) - F.col(exact)) <= 0.10 * F.col(exact)
    )
    return raw.select(
        "exact_orders",
        "exact_parts",
        within("approx_orders", "exact_orders").alias("orders_within_bound"),
        within("approx_parts", "exact_parts").alias("parts_within_bound"),
    )


def a29_raw_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged + direct HLL estimates beside the exact distinct.

    Raw (engine-specific) estimates for tests; the registry query
    reduces them to engine-portable bound checks.
    """
    orders = load_table(spark, sf_dir, "orders")
    per_month = orders.groupBy(F.date_format("o_orderdate", "yyyyMM").alias("month")).agg(
        F.hll_sketch_agg("o_custkey", 12).alias("sketch")
    )
    merged = per_month.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("merged_estimate"),
        F.count("*").alias("num_partition_sketches"),
    )
    direct = orders.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("o_custkey", 12)).alias("direct_estimate"),
        F.countDistinct("o_custkey").alias("exact_distinct"),
    )
    return merged.crossJoin(direct).select(
        "num_partition_sketches", "merged_estimate", "direct_estimate", "exact_distinct"
    )


@query(
    "a29_hll_sketch_union",
    oracle="""
    SELECT COUNT(DISTINCT STRFTIME(o_orderdate, '%Y%m')) AS num_partition_sketches,
           COUNT(DISTINCT o_custkey) AS exact_distinct,
           TRUE AS merged_within_bound,
           TRUE AS direct_within_bound,
           TRUE AS merged_direct_close
    FROM orders
    """,
)
def a29_hll_sketch_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL sketches: per-partition build, central union.

    The pattern that makes distinct counts tractable at 100 TB: each
    partition (here: order month, standing in for a date-partitioned
    gold table) aggregates its keys into a fixed-size Datasketches HLL
    buffer (``hll_sketch_agg``); a later query unions the per-partition
    sketches (``hll_union_agg``) instead of re-scanning raw data. The
    sketches are additive, so incremental maintenance is append-only —
    the roadmap's "theta-sketch-style distinct-union".

    Checked contract (full oracle, not rows-only): raw estimates are
    engine-specific, so the query emits the sketch-count and exact
    distinct (both SQL-exact, cross-checked against DuckDB) plus three
    booleans the oracle pins to TRUE — merged and direct estimates each
    within 5% of exact (lgK=12 ⇒ rse ≈ 1.6%, so 5% ≈ 3σ) and within
    max(1, 1%·exact) of EACH OTHER (the union's HLL_8 target vs the
    packed single-sketch HLL_4 rounds differently). A drifting sketch
    or a broken union now fails the hash gate.
    """
    raw = a29_raw_estimates(spark, sf_dir)
    exact = F.col("exact_distinct")
    return raw.select(
        "num_partition_sketches",
        "exact_distinct",
        (F.abs(F.col("merged_estimate") - exact) <= 0.05 * exact).alias(
            "merged_within_bound"
        ),
        (F.abs(F.col("direct_estimate") - exact) <= 0.05 * exact).alias(
            "direct_within_bound"
        ),
        (
            F.abs(F.col("merged_estimate") - F.col("direct_estimate"))
            <= F.greatest(F.lit(1.0), 0.01 * exact)
        ).alias("merged_direct_close"),
    )


@query(
    "a25_quantiles",
    oracle="""
    SELECT ROUND(QUANTILE_CONT(o_totalprice, 0.25), 4) AS p25,
           ROUND(QUANTILE_CONT(o_totalprice, 0.5), 4) AS p50,
           ROUND(QUANTILE_CONT(o_totalprice, 0.75), 4) AS p75,
           ROUND(QUANTILE_CONT(o_totalprice, 0.99), 4) AS p99
    FROM orders
    """,
)
def a25_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated quantiles (SQL percentile ≡ QUANTILE_CONT).

    ``percentile_approx`` (t-digest sketch) is the at-scale variant —
    same call shape, bounded memory; exercised in tests against these
    exact values.
    """
    orders = load_table(spark, sf_dir, "orders")
    return orders.agg(
        *[
            F.round(F.expr(f"percentile(o_totalprice, {q})"), 4).alias(f"p{int(q * 100)}")
            for q in (0.25, 0.5, 0.75, 0.99)
        ]
    )


@query(
    "a26_rollup",
    oracle="""
    SELECT c_mktsegment AS mktsegment, c_nationkey AS nationkey,
           COUNT(*) AS count,
           CAST(SUM(CAST(FLOOR(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS total_bal_cents
    FROM customer
    GROUP BY ROLLUP (c_mktsegment, c_nationkey)
    """,
)
def a26_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (segment, nation) → subtotal → grand total.

    Balance total is integer cents (skew01's money rule): the rollup's
    grand-total row folds the whole table in one group, exactly where a
    float SUM's fold order diverges first at scale.
    """
    customer = load_table(spark, sf_dir, "customer")
    return customer.rollup(
        F.col("c_mktsegment").alias("mktsegment"), F.col("c_nationkey").alias("nationkey")
    ).agg(
        F.count("*").alias("count"),
        F.sum(F.floor(F.col("c_acctbal") * 100)).alias("total_bal_cents"),
    )


@query(
    "a27_pivot",
    oracle="""
    SELECT o_orderpriority AS priority,
           COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS status_O,
           COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS status_F,
           COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS status_P
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def a27_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with an explicit value list (no extra distinct-values scan).

    Passing the pivot values avoids the hidden job Spark otherwise runs
    to discover them — the difference between one pass and two at scale.
    """
    orders = load_table(spark, sf_dir, "orders")
    pivoted = (
        orders.groupBy(F.col("o_orderpriority").alias("priority"))
        .pivot("o_orderstatus", ["O", "F", "P"])
        .count()
    )
    out = pivoted
    for s in ("O", "F", "P"):
        out = out.withColumnRenamed(s, f"status_{s}").withColumn(
            f"status_{s}", F.coalesce(F.col(f"status_{s}"), F.lit(0))
        )
    return out


EMB_DIM = 64  # the embeddings table's vector dimensionality


def _plane_sign(d: int, p: int) -> float:
    """±1 hyperplane component for (dim d, plane p), md5-parity-derived.

    md5 of ``"d:p"``, parity of the first hex digit — the same portable
    pseudo-random idiom as tp12's priorities, computable identically by
    hashlib here and by MD5() in the DuckDB oracle. (xxhash64 would be
    cheaper per call but has no DuckDB twin; since the signs depend
    only on (d, p) they are precomputed ONCE driver-side and embedded
    as literals, so per-row cost is zero either way.)
    """
    import hashlib

    return (
        1.0
        if int(hashlib.md5(f"{d}:{p}".encode()).hexdigest()[0], 16) % 2 == 0
        else -1.0
    )


def hyperplane_lsh_pairs(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    bits_per_table: int = 6,
    n_tables: int = 6,
) -> DataFrame:
    """Random-hyperplane LSH similar-vector pairs.

    The vector analog of dd04's banded MinHash: per table t, the bucket
    key is ``bits_per_table`` sign bits of v·h — pairs colliding in ANY
    table become candidates, then get exact cosine verification.
    Hyperplane components are md5-parity ±1 entries (_plane_sign), so
    the sketch is reproducible with no driver-side randomness AND
    replayable by the DuckDB oracle. At scale (table, bucket) is the
    shuffle key; candidate volume falls as p_agree^bits per table,
    never O(n²). Recall stacks as 1-(1-p^bits)^tables — tune tables up
    for lower thresholds.
    """
    vec = F.col(vec_col).cast("array<double>")

    def plane_dot(p: int):
        signs = F.array(*[F.lit(_plane_sign(d, p)) for d in range(EMB_DIM)])
        comp = F.zip_with(vec, signs, lambda x, s: x * s)
        return F.aggregate(comp, F.lit(0.0), lambda acc, x: acc + x)

    tables = []
    for t in range(n_tables):
        bucket = None
        for i in range(bits_per_table):
            p = t * bits_per_table + i
            bit = (
                F.when(plane_dot(p) > 0, F.lit(1).cast("long"))
                .otherwise(F.lit(0).cast("long"))
            )
            term = F.shiftleft(bit, i)
            bucket = term if bucket is None else bucket.bitwiseOR(term)
        tables.append(F.struct(F.lit(t).alias("table_id"), bucket.alias("bucket")))

    hashed = embeddings.select(
        F.col(id_col).alias("vid"), vec.alias("v"), F.explode(F.array(*tables)).alias("tb")
    ).select("vid", "v", "tb.table_id", "tb.bucket")

    a = hashed.alias("a")
    b = hashed.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.table_id") == F.col("b.table_id"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vid") < F.col("b.vid")),
        )
        .select(
            F.col("a.vid").alias("vec_a"),
            F.col("b.vid").alias("vec_b"),
            F.col("a.v").alias("va"),
            F.col("b.v").alias("vb"),
        )
        .dropDuplicates(["vec_a", "vec_b"])
    )
    from .similarity import cosine

    cos = cosine(F.col("va"), F.col("vb"))
    return (
        candidates.filter(cos >= threshold)
        .select("vec_a", "vec_b", F.round(cos, 6).alias("cos_sim"))
    )


# sim05's oracle replays the ENTIRE LSH pipeline — md5-derived plane
# signs, 36 plane dots, 6-bit bucket packing per table, bucket-join
# candidates, exact-cosine verification — in DuckDB. Unlike dd04's
# recall-certificate oracle (brute-force pairs), a brute-force oracle
# here would FAIL by design: at the 0.4 boundary p_agree ≈ 0.63, so
# per-table collision ≈ 0.063 and stacked recall ≈ 0.32 — sim05's
# contract is "exact cosine on the candidates these seeded planes
# yield", and that is what the oracle checks. The only float-sensitive
# step is the sign test pd > 0; both engines fold the dot product
# left-to-right over identical doubles (the sim02-proven pattern), so
# the bits compare equal.
_SIM05_COS = cos_sql("ea.v", "eb.v")
_SIM05_ORACLE = f"""
    WITH planes AS (
        SELECT p,
               [CASE WHEN CAST(CONCAT('0x', SUBSTRING(
                        MD5(CAST(d AS VARCHAR) || ':' || CAST(p AS VARCHAR)), 1, 1))
                        AS BIGINT) % 2 = 0
                     THEN 1.0 ELSE -1.0 END
                FOR d IN RANGE(0, 64)] AS s
        FROM RANGE(0, 36) t(p)
    ), e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), pd AS (
        SELECT e.vec_id, pl.p // 6 AS table_id, pl.p % 6 AS bit_i,
               LIST_DOT_PRODUCT(e.v, pl.s) AS d
        FROM e CROSS JOIN planes pl
    ), buckets AS (
        SELECT vec_id, table_id,
               SUM(CASE WHEN d > 0 THEN CAST(1 AS BIGINT) << bit_i ELSE 0 END) AS bucket
        FROM pd GROUP BY 1, 2
    ), cand AS (
        SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM buckets a JOIN buckets b
          ON a.table_id = b.table_id AND a.bucket = b.bucket
         AND a.vec_id < b.vec_id
    )
    SELECT c.vec_a, c.vec_b, ROUND({_SIM05_COS}, 6) AS cos_sim
    FROM cand c JOIN e ea ON c.vec_a = ea.vec_id
                JOIN e eb ON c.vec_b = eb.vec_id
    WHERE {_SIM05_COS} >= 0.4
"""


@query("sim05_hyperplane_lsh", oracle=_SIM05_ORACLE)
def sim05_hyperplane_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH high-similarity pairs over ``embeddings``
    (threshold 0.4 — this corpus's max pairwise cosine is ~0.6, so the
    near-dup regime is empty by construction; 0.4 exercises the method
    on real mass). sim02 is the exact brute-force twin; the oracle
    replays the seeded-plane pipeline itself (see _SIM05_ORACLE).
    """
    embeddings = load_table(spark, sf_dir, "embeddings")
    return hyperplane_lsh_pairs(embeddings)


@query(
    "dq01_quality_profile",
    oracle="""
    SELECT COUNT(*) AS total_rows,
           COUNT(DISTINCT o_orderkey) AS unique_keys,
           ROUND(COUNT(CASE WHEN o_custkey IS NOT NULL THEN 1 END) * 100.0 / COUNT(*), 2)
               AS custkey_completeness_pct,
           ROUND(COUNT(CASE WHEN o_orderdate IS NOT NULL THEN 1 END) * 100.0 / COUNT(*), 2)
               AS orderdate_completeness_pct,
           COUNT(CASE WHEN o_totalprice <= 0 THEN 1 END) AS nonpositive_prices
    FROM orders
    """,
)
def dq01_quality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's runtime data-quality validation as an engine query.

    Row counts, key uniqueness, completeness percentages, and a domain
    check in one scan (cbddl/src/etl/pipeline.py:205-267;
    cbddl/src/data_ingestion/ingestion_pipeline.py:54-74).
    """
    orders = load_table(spark, sf_dir, "orders")
    n = F.count("*")
    return orders.agg(
        n.alias("total_rows"),
        F.countDistinct("o_orderkey").alias("unique_keys"),
        F.round(F.count(F.when(F.col("o_custkey").isNotNull(), 1)) * 100.0 / n, 2).alias(
            "custkey_completeness_pct"
        ),
        F.round(F.count(F.when(F.col("o_orderdate").isNotNull(), 1)) * 100.0 / n, 2).alias(
            "orderdate_completeness_pct"
        ),
        F.count(F.when(F.col("o_totalprice") <= 0, 1)).alias("nonpositive_prices"),
    )


def a28_raw_estimates(spark: SparkSession, sf_dir: str) -> list[tuple[str, int, int]]:
    """(key, cms_estimate, exact_count) triples from one sketch probe.

    The executors stream the column into per-partition sketches merged
    once (the ``count_min_sketch`` SQL aggregate); probing the merged
    KB-sized sketch for the handful of distinct keys is driver-side by
    nature, like reading any aggregate result. PySpark 4 dropped the
    ``df.stat.countMinSketch`` wrapper, so the probe goes through the
    JVM sketch class directly. The grouped exact counts (one row per
    priority — a 5-value domain, bounded by construction) ride the same
    scan pattern and certify the estimates.
    """
    orders = load_table(spark, sf_dir, "orders")
    agg = orders.agg(
        F.expr("count_min_sketch(o_orderpriority, 0.001d, 0.99d, 42)").alias("cms"),
    ).collect()[0]
    sketch = spark._jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(
        bytes(agg["cms"])
    )
    exact = {
        r["o_orderpriority"]: r["exact_count"]
        for r in orders.groupBy("o_orderpriority")
        .agg(F.count("*").alias("exact_count"))
        .collect()
    }
    return [(k, sketch.estimateCount(k), exact[k]) for k in sorted(exact)]


@query(
    "a28_countmin_heavy_hitters",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS exact_count,
           TRUE AS no_undercount,
           TRUE AS within_eps_bound
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def a28_countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch frequency estimates, checked against their bound.

    The fixed-memory frequency path for 100 TB streams: a
    ``count_min_sketch`` aggregate (one 8 KB-ish buffer per partition,
    merged once) estimates per-key counts without a per-key shuffle.
    Raw estimates are engine-specific, so the CHECKED contract is the
    sketch's published guarantee, emitted as booleans the DuckDB oracle
    pins to TRUE: ``est >= exact`` (CMS never under-counts —
    deterministic) and ``est <= exact + ε·N`` (over-count bound,
    ε=0.001, holds with prob ≥ 1-δ per key at δ=0.01). Exact per-key
    counts ride along and are cross-checked against the oracle's
    GROUP BY, so a broken sketch OR a broken exact aggregate fails the
    hash gate.
    """
    triples = a28_raw_estimates(spark, sf_dir)
    n = sum(exact for _, _, exact in triples)
    rows = [
        (k, exact, est >= exact, est <= exact + 0.001 * n)
        for k, est, exact in triples
    ]
    return spark.createDataFrame(
        rows,
        "o_orderpriority string, exact_count long, "
        "no_undercount boolean, within_eps_bound boolean",
    )


@query(
    "dq02_constraint_checks",
    oracle="""
    SELECT 'orders_pk_unique' AS check_name,
           CASE WHEN COUNT(*) = COUNT(DISTINCT o_orderkey) THEN 'pass' ELSE 'fail' END AS status,
           COUNT(*) - COUNT(DISTINCT o_orderkey) AS violations
    FROM orders
    UNION ALL
    SELECT 'orders_price_positive',
           CASE WHEN COUNT(CASE WHEN o_totalprice <= 0 THEN 1 END) = 0 THEN 'pass' ELSE 'fail' END,
           COUNT(CASE WHEN o_totalprice <= 0 THEN 1 END)
    FROM orders
    UNION ALL
    SELECT 'orders_status_domain',
           CASE WHEN COUNT(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 END) = 0
                THEN 'pass' ELSE 'fail' END,
           COUNT(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 END)
    FROM orders
    UNION ALL
    SELECT 'orders_custkey_not_null',
           CASE WHEN COUNT(CASE WHEN o_custkey IS NULL THEN 1 END) = 0 THEN 'pass' ELSE 'fail' END,
           COUNT(CASE WHEN o_custkey IS NULL THEN 1 END)
    FROM orders
    """,
)
def dq02_constraint_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative constraint checks in ONE scan: pk uniqueness, range,
    domain, not-null — each a conditional aggregate, reported as a
    (check, status, violations) table.

    The reference's quality gate recomputes per-rule scans
    (cbddl/src/etl/pipeline.py:205-267, pipeline_monitor.py:152-207);
    here all rules fold into a single pass over the table (one scalar
    aggregate), then pivot to rows. At 100 TB the difference is one
    table read vs one per rule.
    """
    orders = load_table(spark, sf_dir, "orders")
    agg = orders.agg(
        F.count("*").alias("n"),
        F.countDistinct("o_orderkey").alias("n_keys"),
        F.count(F.when(F.col("o_totalprice") <= 0, 1)).alias("bad_price"),
        F.count(F.when(~F.col("o_orderstatus").isin("O", "F", "P"), 1)).alias("bad_status"),
        F.count(F.when(F.col("o_custkey").isNull(), 1)).alias("null_cust"),
    )
    checks = [
        ("orders_pk_unique", F.col("n") - F.col("n_keys")),
        ("orders_price_positive", F.col("bad_price")),
        ("orders_status_domain", F.col("bad_status")),
        ("orders_custkey_not_null", F.col("null_cust")),
    ]
    rows = agg.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("check_name"),
                        F.when(v == 0, "pass").otherwise("fail").alias("status"),
                        v.cast("long").alias("violations"),
                    )
                    for name, v in checks
                ]
            )
        ).alias("c")
    )
    return rows.select("c.check_name", "c.status", "c.violations")


@query(
    "dq03_volume_anomaly",
    oracle="""
    WITH daily AS (
        SELECT STRFTIME(o_orderdate, '%Y%m%d') AS date_key,
               COUNT(*) AS n_orders
        FROM orders
        GROUP BY 1
    ),
    with_prev AS (
        SELECT date_key, n_orders,
               LAG(n_orders) OVER (ORDER BY date_key) AS prev_orders
        FROM daily
    )
    SELECT date_key, n_orders, prev_orders,
           ROUND(100.0 * (n_orders - prev_orders) / prev_orders, 4) AS pct_change,
           (ABS(n_orders - prev_orders) * 2.0 > prev_orders) AS is_anomaly
    FROM with_prev
    WHERE prev_orders IS NOT NULL
    """,
)
def dq03_volume_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day volume anomaly detection — the monitoring alert the
    reference computes over its metrics table (events/min thresholds,
    cbddl/src/monitoring/pipeline_monitor.py:152-207, alert rules
    :62-75), as one query over the fact stream.

    Pattern: aggregate to the monitoring grain (daily counts collapse
    map-side, so the window input is tiny regardless of fact volume),
    then lag() for the baseline and a threshold flag (>50% swing).
    The unpartitioned window runs AFTER aggregation — thousands of
    rows on one task, the documented W4/W5 posture, never raw facts.
    """
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    daily = (
        orders.groupBy(F.date_format("o_orderdate", "yyyyMMdd").alias("date_key"))
        .agg(F.count("*").alias("n_orders"))
    )
    w = Window.orderBy("date_key")
    prev = F.lag("n_orders").over(w)
    return (
        daily.withColumn("prev_orders", prev)
        .filter(F.col("prev_orders").isNotNull())
        .select(
            "date_key",
            "n_orders",
            "prev_orders",
            F.round(
                100.0 * (F.col("n_orders") - F.col("prev_orders")) / F.col("prev_orders"),
                4,
            ).alias("pct_change"),
            (
                F.abs(F.col("n_orders") - F.col("prev_orders")) * 2.0
                > F.col("prev_orders")
            ).alias("is_anomaly"),
        )
    )


@query(
    "a29_cube",
    oracle="""
    SELECT o_orderpriority AS priority, o_orderstatus AS status,
           COUNT(*) AS count,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS total_price_cents
    FROM orders
    GROUP BY CUBE (o_orderpriority, o_orderstatus)
    """,
)
def a29_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (priority, status): all four grouping combinations.

    Completes the grouping family next to a26 (ROLLUP) and f21
    (GROUPING SETS). One Expand + one hash aggregate — Spark expands
    each input row into the 4 grouping-set shapes BEFORE the shuffle,
    so partial aggregation still collapses per-task output to the tiny
    combined key space; no per-set rescan. Both grouping columns are
    non-null in the data, so output NULLs unambiguously mark subtotal
    rows (else GROUPING() disambiguates).
    """
    orders = load_table(spark, sf_dir, "orders")
    return orders.cube(
        F.col("o_orderpriority").alias("priority"), F.col("o_orderstatus").alias("status")
    ).agg(
        F.count("*").alias("count"),
        F.sum(F.floor(F.col("o_totalprice") * 100)).alias("total_price_cents"),
    )


# --- a33: quantile sketch with a CHECKED rank-error bound ----------------------------

QSK_ACCURACY = 100  # percentile_approx accuracy knob: rank error ≤ n/accuracy
QSK_ENVELOPE = 5  # ≥5× the advertised bound, the a02/a28 convention


@query(
    "a33_quantile_sketch_checked",
    oracle="""
    WITH n AS (
        SELECT o_orderpriority AS priority, CAST(COUNT(*) AS BIGINT) AS n
        FROM orders GROUP BY 1
    ), ranked AS (
        SELECT o_orderpriority AS priority, o_totalprice AS val,
               ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                  ORDER BY o_totalprice, o_orderkey) AS rn
        FROM orders
    )
    SELECT n.priority, n.n, r.val AS exact_median,
           TRUE AS median_within_bound
    FROM n JOIN ranked r ON r.priority = n.priority AND r.rn = (n.n + 1) // 2
    ORDER BY n.priority
    """,
)
def a33_quantile_sketch_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percentile_approx (Greenwald-Khanna-style quantile sketch) with a
    CHECKED rank-error bound — the quantile member of the sketch family
    (a02 HLL, a28 count-min, a29 HLL-union, a31 freq-items all carry
    the same contract).

    Exact quantiles need a per-group sort (ts19's order-statistic
    selection); the sketch aggregates map-side into a bounded buffer
    and merges — the 100 TB path. The raw estimate is engine-specific,
    so the checked contract is the published guarantee: the value
    percentile_approx returns at accuracy A must sit within n/A rank
    positions of the true median. The query computes the estimate's
    ACTUAL rank (one count of values ≤ estimate per group), asserts
    |rank_le − n/2| ≤ {QSK_ENVELOPE}·n/{QSK_ACCURACY} + 1 in integer
    cross-multiplied arithmetic, and emits the exact lower median
    beside it; the oracle replays the exact legs with TRUE literals.
    A sketch drifting past its bound FAILS the differential gate
    instead of hiding behind rows-only.
    """
    orders = load_table(spark, sf_dir, "orders")
    approx = orders.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.percentile_approx("o_totalprice", 0.5, QSK_ACCURACY).alias("est"),
        F.count("*").alias("n"),
    )
    rank_le = (
        orders.select(F.col("o_orderpriority").alias("priority"), "o_totalprice")
        .join(F.broadcast(approx), "priority")
        .groupBy("priority")
        .agg(
            F.count(F.when(F.col("o_totalprice") <= F.col("est"), 1)).alias(
                "rank_le"
            )
        )
    )
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    exact_med = (
        orders.select(
            F.col("o_orderpriority").alias("priority"),
            F.col("o_totalprice").alias("val"),
            F.row_number().over(w).alias("rn"),
        )
        .join(F.broadcast(approx.select("priority", "n")), "priority")
        .filter(F.col("rn") == F.expr("(n + 1) div 2"))
        .select("priority", F.col("val").alias("exact_median"))
    )
    # |2·rank_le − n| ≤ 2·(ENVELOPE·n/ACCURACY + 1), cross-multiplied by
    # ACCURACY to stay in BIGINT: ACC·|2·rank_le − n| ≤ 2·ENV·n + 2·ACC
    bound_ok = (
        QSK_ACCURACY * F.abs(2 * F.col("rank_le") - F.col("n"))
        <= 2 * QSK_ENVELOPE * F.col("n") + 2 * QSK_ACCURACY
    )
    return (
        approx.join(rank_le, "priority")
        .join(exact_med, "priority")
        .select(
            "priority",
            "n",
            "exact_median",
            bound_ok.alias("median_within_bound"),
        )
        .orderBy("priority")
    )
