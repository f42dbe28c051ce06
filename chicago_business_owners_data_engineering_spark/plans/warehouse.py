"""Six-stage warehouse ETL — the flagship pipeline (SURVEY.md §3.2).

Re-expresses the reference's SQL warehouse ETL
(cbddl/src/etl/pipeline.py:33-83: extract_and_stage → assess_quality →
load_dimensions → load_fact_tables → create_aggregations → validate) as
lazy Spark jobs over the star-schema test tables, writing a
medallion-layout parquet lake:

    bronze/  staging snapshot (+ batch_id, staged_at, raw_json)
    silver/  dimensions + facts (surrogate keys, SCD-less upsert)
    gold/    daily + distribution aggregates

Each stage is one DataFrame lineage; Catalyst plans the whole stage as
one job (scan→project→join→agg fused by codegen), and every inter-stage
boundary is a partitioned parquet write (S7) so downstream reads prune
on the partition key.

Scale notes: dims join via broadcast; the fact build's only big shuffle
is lineitem⋈orders on orderkey (sort-merge + AQE); gold aggregates are
map-side-partial hash aggs on low-cardinality keys. The upsert (A22,
``ON CONFLICT DO UPDATE`` at cbddl/src/etl/pipeline.py:314-318) is
implemented as union + row_number-latest-wins + dynamic partition
overwrite — idempotent under re-runs, matching re-run behavior of the
reference's ON CONFLICT.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import Pins, load_table
from ..functions.sampling import md5_bucket
from ..operators.shared_oracles import md5_bucket_sql
from ..registry import query


# --------------------------------------------------------------------------
# upsert primitive (A22)
# --------------------------------------------------------------------------

def upsert_by_key(
    existing: DataFrame, updates: DataFrame, keys: list[str], version_col: str
) -> DataFrame:
    """Latest-wins merge of ``updates`` into ``existing`` by ``keys``.

    Plain-parquet MERGE substitute: union both sides, keep the row with
    the highest ``version_col`` per key (ties → updates side wins via a
    source-rank tiebreak). Implemented as a ``max_by`` hash aggregate
    over the payload struct rather than a row_number window: the
    aggregate needs no sort, combines map-side (each task pre-reduces
    its keys before the one shuffle), and its state is one row per key
    — ~35% faster than the window form at sf0.1 and strictly less
    shuffle at scale. Struct comparison is lexicographic, so ordering
    by ``struct(version, _src)`` reproduces ORDER BY version DESC,
    _src DESC exactly. Write back with dynamic partition overwrite for
    idempotent re-runs; Delta's MERGE INTO is the drop-in replacement
    when the table format allows.
    """
    e = existing.withColumn("_src", F.lit(0))
    u = updates.withColumn("_src", F.lit(1))
    payload = [c for c in existing.columns if c not in keys]
    return (
        e.unionByName(u)
        .groupBy(*keys)
        .agg(
            F.max_by(
                F.struct(*payload), F.struct(F.col(version_col), F.col("_src"))
            ).alias("_p")
        )
        .select(*keys, *[F.col(f"_p.{c}").alias(c) for c in payload])
    )


# --------------------------------------------------------------------------
# the six stages
# --------------------------------------------------------------------------

def stage_bronze(spark: SparkSession, sf_dir: str, batch_id: str) -> DataFrame:
    """Stage 1 — extract & stage (cbddl/src/etl/pipeline.py:85-120).

    Raw orders snapshot + lineage columns + raw_json payload (F17,
    the JSONB staging column at cbddl/database/schema.sql:23).
    """
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "*",
        F.lit(batch_id).alias("batch_id"),
        F.current_timestamp().alias("staged_at"),
        F.to_json(F.struct(*orders.columns)).alias("raw_json"),
        F.date_format("o_orderdate", "yyyyMMdd").alias("date_key"),
    )


def assess_quality(staged: DataFrame) -> DataFrame:
    """Stage 2 — data-quality scorecard (cbddl/src/etl/pipeline.py:205-267).

    Conditional-aggregate completeness per column + duplicate count in
    one pass (A3/A14/A15).
    """
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate"]
    n = F.count("*")
    return staged.agg(
        n.alias("total_rows"),
        (n - F.countDistinct("o_orderkey")).alias("duplicate_keys"),
        *[
            F.round(F.count(F.when(F.col(c).isNotNull(), 1)) * 100.0 / n, 2).alias(
                f"{c}_completeness_pct"
            )
            for c in cols
        ],
    )


def load_dimensions(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Stage 3 — dimension build (cbddl/src/etl/pipeline.py:269-355).

    SELECT DISTINCT + deterministic surrogate keys (content hash, F16)
    + a generated date dimension (F13, schema.sql:289-317).
    """
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    orders = load_table(spark, sf_dir, "orders")

    dim_customer = (
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select(
            F.md5(F.col("c_custkey").cast("string")).alias("customer_sk"),
            F.col("c_custkey").alias("custkey"),
            F.col("c_name").alias("name"),
            F.col("c_mktsegment").alias("mktsegment"),
            F.col("n_name").alias("nation"),
            F.col("r_name").alias("region"),
            F.col("c_acctbal").alias("acctbal"),
        )
        .dropDuplicates(["custkey"])
    )

    bounds = orders.agg(
        F.min(F.to_date("o_orderdate")).alias("lo"), F.max(F.to_date("o_orderdate")).alias("hi")
    )
    dim_date = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))).alias("cal_date")
    ).select(
        F.date_format("cal_date", "yyyyMMdd").alias("date_key"),
        "cal_date",
        F.year("cal_date").cast("int").alias("yr"),
        F.quarter("cal_date").cast("int").alias("qtr"),
        F.month("cal_date").cast("int").alias("mon"),
        (F.dayofweek("cal_date") - 1).cast("int").alias("dow"),
        ((F.dayofweek("cal_date") - 1).isin(0, 6)).alias("is_weekend"),
    )

    dim_priority = (
        orders.select(F.col("o_orderpriority").alias("priority"))
        .distinct()
        .withColumn("priority_sk", F.md5("priority"))
    )
    return {"dim_customer": dim_customer, "dim_date": dim_date, "dim_priority": dim_priority}


def load_facts(spark: SparkSession, sf_dir: str, dims: dict[str, DataFrame]) -> DataFrame:
    """Stage 4 — fact build (cbddl/src/etl/pipeline.py:357-477).

    lineitem ⋈ orders (the one big shuffle) ⋈ broadcast dims, with the
    W2 is-first-line window flag on the fact grain.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    # Unordered min-window instead of row_number over an ordered one:
    # line numbers are unique per order, so l_linenumber == MIN(...)
    # is the same boolean, but the aggregate window needs no
    # (orderkey, linenumber) sort — the join output is already
    # partitioned+sorted on the order key, so the sort disappears from
    # the plan entirely (r10; values bit-identical).
    w = Window.partitionBy("l_orderkey")
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(
            F.broadcast(dims["dim_customer"]),
            orders.o_custkey == dims["dim_customer"].custkey,
        )
        .select(
            F.col("l_orderkey").alias("orderkey"),
            F.col("l_linenumber").alias("linenumber"),
            F.col("customer_sk"),
            F.col("mktsegment"),
            F.col("nation"),
            F.date_format("o_orderdate", "yyyyMMdd").alias("date_key"),
            F.col("o_orderpriority").alias("priority"),
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("net_price"),
            # Integer cents quantized from the RAW product — the same
            # FLOOR(x*100) wh01_daily_agg and its oracle use. Summing
            # FLOOR(ROUND(raw,4)*100) instead differs by 1 cent when
            # raw*100 sits just below an integer, so the gold lake and
            # the wh01 one-lazy-plan twin would silently diverge
            # (ADVICE r9).
            F.floor((F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 100)
            .cast("long")
            .alias("net_price_cents"),
            F.col("l_quantity").alias("quantity"),
            (F.col("l_linenumber") == F.min("l_linenumber").over(w)).alias(
                "is_first_line"
            ),
        )
    )


def create_aggregations(facts: DataFrame) -> dict[str, DataFrame]:
    """Stage 5 — gold aggregates (cbddl/src/etl/pipeline.py:479-565).

    Daily rollup + priority distribution with pct-of-total (A24/W5).
    """
    # Order-grain pre-aggregate then day rollup (the wh01 form): an
    # order has exactly one date_key, so the rollup distributes over
    # it — map-side partials shrink the shuffle to one row per order
    # and the distinct-order count becomes a plain COUNT(*), removing
    # the Expand the single-pass COUNT(DISTINCT) plan needs. Values
    # identical (BIGINT sums, exact at any fold order).
    per_order = facts.groupBy("date_key", "orderkey").agg(
        F.count("*").alias("nl"),
        F.sum("net_price_cents").alias("rev_cents"),
    )
    agg_daily = per_order.groupBy("date_key").agg(
        F.count("*").alias("num_orders"),
        F.sum("nl").alias("num_lines"),
        F.sum("rev_cents").alias("revenue_cents"),
    )
    by_priority = facts.groupBy("priority").agg(F.count("*").alias("count"))
    total = F.sum("count").over(Window.partitionBy())
    agg_priority = by_priority.withColumn(
        "pct", F.round(F.col("count") * 100.0 / total, 6)
    )
    return {"agg_daily": agg_daily, "agg_priority": agg_priority}


def validate(facts: DataFrame, dims: dict[str, DataFrame]) -> DataFrame:
    """Stage 6 — referential-integrity validation (J5,
    cbddl/src/etl/pipeline.py:567-609): orphan counts with a pass/fail
    verdict row.

    Both orphan counts in ONE pass over the facts (r11): the r10 form
    ran two separate anti-join ``count()`` jobs, i.e. two full scans of
    the cached fact table. A left join against each dim's distinct key
    set marks missing keys NULL, and one aggregate counts both NULL
    columns — the anti-join count exactly, because a left join against
    a DISTINCT key set never multiplies rows (the ``distinct()`` on the
    broadcast build side makes that unconditional; dims are key-unique
    by construction anyway). Same counts, half the passes, and both
    probes stay broadcast.
    """
    has_cust = dims["dim_customer"].select("customer_sk").distinct().withColumn(
        "_hc", F.lit(1)
    )
    has_date = dims["dim_date"].select("date_key").distinct().withColumn(
        "_hd", F.lit(1)
    )
    row = (
        facts.select("customer_sk", "date_key")
        .join(F.broadcast(has_cust), "customer_sk", "left")
        .join(F.broadcast(has_date), "date_key", "left")
        .agg(
            F.count(F.when(F.col("_hc").isNull(), 1)).alias("orphan_cust"),
            F.count(F.when(F.col("_hd").isNull(), 1)).alias("orphan_date"),
        )
        .collect()[0]
    )
    orphan_cust, orphan_date = row["orphan_cust"], row["orphan_date"]
    spark = facts.sparkSession
    return spark.createDataFrame(
        [
            ("fact→dim_customer orphans", orphan_cust, orphan_cust == 0),
            ("fact→dim_date orphans", orphan_date, orphan_date == 0),
        ],
        "check string, orphans long, passed boolean",
    )


def run_warehouse_pipeline(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    batch_id: str = "batch_0",
    stage_timings: dict[str, float] | None = None,
) -> DataFrame:
    """Execute all six stages, writing the medallion lake under out_dir.

    Returns the validation DataFrame (stage 6). Partitioned writes use
    dynamic partition overwrite so re-running a batch replaces exactly
    its partitions (idempotent upsert semantics, A22). Pass a dict as
    ``stage_timings`` to receive per-stage wall seconds (bronze /
    quality / dims / facts / gold / validate) — the bench records them
    so a pipeline_e2e regression is attributable to a stage, not just
    a total.
    """
    import time as _time

    marks: list[float] = [_time.time()]

    def _mark(stage: str) -> None:
        marks.append(_time.time())
        if stage_timings is not None:
            stage_timings[stage] = round(marks[-1] - marks[-2], 3)

    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    # Repartition ON THE PARTITION KEY before partitionBy writes:
    # without it every task holds rows of ~every date, so the write
    # explodes into tasks × partitions tiny files (the classic
    # small-files problem — measured 313 s for the sf0.1 pipeline,
    # ~77k files; with the co-partitioned write it's one file per
    # date and ~20× faster). At PB scale raise the second arg of
    # repartition to bound per-task partition count instead.
    #
    # Bronze partitions on BATCH, not date: staging is batch-scoped in
    # the reference (the P8 `WHERE batch_id = :b` predicate,
    # cbddl/src/etl/pipeline.py:220-221) and a batch replaces exactly
    # its own partition on re-run. Date partitioning belongs to
    # silver/gold where readers filter by date — at toy scale it also
    # avoids ~2,400 one-file date dirs for a 150k-row staging snapshot
    # (measured 12.9 s → ~1.5 s for this stage at sf0.1).
    staged = stage_bronze(spark, sf_dir, batch_id)
    # Salted co-partitioned write (r11): a run stages ONE batch, so
    # repartition("batch_id") hashed every row to a single task and the
    # whole to_json payload serialized single-threaded (measured: the
    # bronze stage was one straggler task). The deterministic content
    # salt (guide §2.5 — never rand()) splits each batch into
    # ``fan`` co-located groups: still exactly one directory per batch
    # (dynamic overwrite semantics unchanged), now ``fan`` files
    # written in parallel. At 100 TB ``fan`` bounds files-per-batch;
    # scale it with batch bytes / target file size.
    fan = spark.sparkContext.defaultParallelism
    staged.repartition(
        fan, "batch_id", F.pmod(F.xxhash64("o_orderkey"), F.lit(fan))
    ).write.mode("overwrite").partitionBy("batch_id").parquet(
        os.path.join(out_dir, "bronze", "orders_staged")
    )
    _mark("bronze")
    quality = assess_quality(staged)
    quality.write.mode("overwrite").json(os.path.join(out_dir, "bronze", "quality_report"))
    _mark("quality")

    dims = load_dimensions(spark, sf_dir)
    # Three independent dimension writes overlap from a small driver
    # pool (guide §2.6): each is its own job, so the next write's tasks
    # back-fill executors freed by the current write's tail instead of
    # idling through three sequential stragglers.
    from concurrent.futures import ThreadPoolExecutor

    def _write_dim(item: tuple[str, DataFrame]) -> None:
        name, df = item
        df.write.mode("overwrite").parquet(os.path.join(out_dir, "silver", name))

    with ThreadPoolExecutor(max_workers=3) as pool:
        list(pool.map(_write_dim, dims.items()))
    _mark("dims")
    # Downstream stages consume the WRITTEN silver dims (medallion
    # contract — and it stops load_facts from re-running the
    # customer⋈nation⋈region + dropDuplicates dim build a second time
    # inside the fact stage's broadcast; the read-back parquet is the
    # same relation by construction).
    dims_back = {
        name: spark.read.parquet(os.path.join(out_dir, "silver", name)) for name in dims
    }

    # Silver facts partition on MONTH, not day: partition granularity
    # must track bytes-per-partition (≥ ~100 MB each), and at bench SF
    # the ~2,400 order dates hold ~15 KB of fact rows apiece — a
    # 2,400-dir day layout spent ~60% of the whole pipeline on
    # filesystem churn + the dynamic-overwrite commit walk (measured
    # 55 s of 96 s at sf0.1; month layout ~80 dirs). Readers still
    # prune: the partition column narrows to the month and the
    # per-file date_key row-group stats (rows arrive date-sorted
    # within each month file) prune inside it. At 100 TB a day holds
    # GBs, so day granularity becomes correct — flip ``partitionBy``
    # to date_key then; nothing downstream changes (date_key stays a
    # data column either way).
    facts = load_facts(spark, sf_dir, dims_back).withColumn(
        "month_key", F.substring("date_key", 1, 6)
    )
    facts.repartition("month_key").sortWithinPartitions("date_key").write.mode(
        "overwrite"
    ).partitionBy("month_key").parquet(
        os.path.join(out_dir, "silver", "fact_order_lines")
    )
    _mark("facts")

    # The read-back fact table feeds FOUR actions (two gold aggregates,
    # two validation anti-joins); pin it so the many-small-files
    # date-partitioned scan is paid once, not four times. On a cluster
    # this is the standard cache-between-consumers pattern for a hot
    # silver table inside one job.
    with Pins() as pin:
        facts_back = pin(
            spark.read.parquet(os.path.join(out_dir, "silver", "fact_order_lines"))
        )
        for name, df in create_aggregations(facts_back).items():
            df.write.mode("overwrite").parquet(os.path.join(out_dir, "gold", name))
        _mark("gold")

        # validate() runs its one-pass orphan count eagerly, while
        # facts are still pinned; the returned verdict rows are
        # driver-local.
        verdict = validate(facts_back, dims_back)
        _mark("validate")
        return verdict


# --------------------------------------------------------------------------
# registry entries (read-only analogs checked against the oracle)
# --------------------------------------------------------------------------

@query(
    "wh01_daily_agg",
    oracle="""
    SELECT STRFTIME(o.o_orderdate, '%Y%m%d') AS date_key,
           COUNT(DISTINCT l.l_orderkey) AS num_orders,
           COUNT(*) AS num_lines,
           CAST(SUM(CAST(FLOOR((l.l_extendedprice * (1 - l.l_discount)) * 100) AS BIGINT))
                AS BIGINT) AS revenue_cents
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1
    """,
)
def wh01_daily_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The gold daily rollup computed end-to-end from raw tables —
    the flagship pipeline's stages 4-5 as one lazy plan (the parquet
    write boundaries removed, which is exactly what Catalyst fuses)."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    # Aggregate lineitem to order grain BEFORE the join (an order has
    # one date, so the rollup distributes over it): map-side partial
    # aggregation then shrinks the shuffle to ~orders-many 3-column
    # rows instead of every line, the join input drops 4x, and the
    # distinct-order count becomes a plain count — no Expand, no
    # per-line distinct state. ~25% faster than join-then-aggregate at
    # sf0.1; at cluster scale the saved lineitem shuffle dominates. No
    # broadcast hint on orders: it is a fact table (not broadcastable
    # at real SF) — the planner/AQE picks broadcast locally where the
    # 2-column projection is small, sort-merge at scale.
    # Per-row integer cents (skew01's money rule): the two-level rollup
    # (order grain, then day grain) folds in a different order than the
    # oracle's single SUM — BIGINT partials make that exact by identity.
    per_order = lineitem.groupBy("l_orderkey").agg(
        F.count("*").alias("nl"),
        F.sum(
            F.floor((F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 100)
        ).alias("rev_cents"),
    )
    per_order = per_order.join(
        orders.select(
            "o_orderkey", F.date_format("o_orderdate", "yyyyMMdd").alias("date_key")
        ),
        per_order.l_orderkey == F.col("o_orderkey"),
    )
    return per_order.groupBy("date_key").agg(
        F.count("*").alias("num_orders"),
        F.sum("nl").alias("num_lines"),
        F.sum("rev_cents").alias("revenue_cents"),
    )


@query(
    "wh02_integrity_check",
    oracle="""
    SELECT
        (SELECT COUNT(*) FROM lineitem l
         WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
            AS orphan_lines,
        (SELECT COUNT(*) FROM orders o
         WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
            AS orphan_orders
    """,
)
def wh02_integrity_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage-6 referential integrity as anti-join counts (J5)."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    orphan_lines = lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey, "left_anti")
    orphan_orders = orders.join(
        F.broadcast(customer), orders.o_custkey == customer.c_custkey, "left_anti"
    )
    return orphan_lines.agg(F.count("*").alias("orphan_lines")).crossJoin(
        orphan_orders.agg(F.count("*").alias("orphan_orders"))
    )


@query(
    "ups01_upsert_latest_wins",
    oracle="""
    WITH updates AS (
        SELECT o_orderkey, ROUND(o_totalprice * 1.1, 4) AS o_totalprice, 1 AS version
        FROM orders WHERE o_orderkey % 10 = 0
    ), unioned AS (
        SELECT o_orderkey, ROUND(o_totalprice, 4) AS o_totalprice, 0 AS version FROM orders
        UNION ALL
        SELECT * FROM updates
    )
    SELECT o_orderkey AS orderkey, o_totalprice AS totalprice
    FROM (
        SELECT o_orderkey, o_totalprice,
               ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY version DESC) AS rn
        FROM unioned
    )
    WHERE rn = 1
    """,
)
def ups01_upsert_latest_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A22 upsert semantics: latest-wins merge by key.

    Simulates an incoming batch repricing every 10th order and merges it
    over the base table — the plain-parquet ON CONFLICT DO UPDATE
    (cbddl/src/etl/pipeline.py:314-318,399-402).
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.round("o_totalprice", 4).alias("o_totalprice"), F.lit(0).alias("version")
    )
    updates = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 10 == 0)
        .select(
            "o_orderkey",
            F.round(F.col("o_totalprice") * 1.1, 4).alias("o_totalprice"),
            F.lit(1).alias("version"),
        )
    )
    merged = upsert_by_key(orders, updates, ["o_orderkey"], "version")
    return merged.select(
        F.col("o_orderkey").alias("orderkey"), F.col("o_totalprice").alias("totalprice")
    )


@query(
    "wh03_snapshot_diff",
    oracle="""
    WITH old AS (
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               CASE WHEN o_orderkey % 83 = 0 THEN '9-STALE'
                    ELSE o_orderpriority END AS o_orderpriority
        FROM orders WHERE o_orderkey % 89 <> 0
    ), new AS (
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
        FROM orders WHERE o_orderkey % 97 <> 0
    )
    SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
           CASE WHEN o.o_orderkey IS NULL THEN 'insert'
                WHEN n.o_orderkey IS NULL THEN 'delete'
                ELSE 'update' END AS change_type
    FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
    WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
       OR o.o_custkey <> n.o_custkey
       OR o.o_orderstatus <> n.o_orderstatus
       OR o.o_totalprice <> n.o_totalprice
       OR o.o_orderpriority <> n.o_orderpriority
    ORDER BY o_orderkey
    """,
)
def wh03_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style snapshot diff: (key, insert|delete|update) between two
    table versions.

    The primitive behind incremental lake maintenance and audit
    tooling: given yesterday's snapshot and today's, emit exactly the
    changed keys. The two versions are derived deterministically from
    ``orders`` (rows keyed %89 missing from old → inserts, %97 missing
    from new → deletes, %83 carrying a stale ``o_orderpriority`` in
    old → updates) so the DuckDB oracle replays the identical scenario.

    Scale shape: ONE full-outer sort-merge join keyed on the primary
    key — with both snapshots bucketed by PK (sources/lake.py S7's
    bucketed writer) this is a co-located zero-shuffle merge; unchanged
    rows are discarded map-side by the comparison filter, so only the
    changed ~1-3%% of keys survive to the output. At 100-column width
    production diffs compare one ``xxhash64(struct(*))`` row
    fingerprint per side instead of N column predicates — same
    decisions (collision odds 2⁻⁶⁴), a fraction of the compare cost;
    the column form here keeps the oracle exact. The attribute columns
    are NOT NULL in this schema, so plain ``<>`` is the full inequality
    test (a nullable-column diff would use ``IS DISTINCT FROM`` /
    ``eqNullSafe`` on both engines).
    """
    orders = load_table(spark, sf_dir, "orders")
    key = F.col("o_orderkey")
    old = orders.filter(key % 89 != 0).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        F.when(key % 83 == 0, F.lit("9-STALE"))
        .otherwise(F.col("o_orderpriority"))
        .alias("o_orderpriority"),
    )
    new = orders.filter(key % 97 != 0).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
    )
    o, n = old.alias("o"), new.alias("n")
    joined = o.join(n, F.col("o.o_orderkey") == F.col("n.o_orderkey"), "full_outer")
    differs = (
        (F.col("o.o_custkey") != F.col("n.o_custkey"))
        | (F.col("o.o_orderstatus") != F.col("n.o_orderstatus"))
        | (F.col("o.o_totalprice") != F.col("n.o_totalprice"))
        | (F.col("o.o_orderpriority") != F.col("n.o_orderpriority"))
    )
    return (
        joined.select(
            F.coalesce(F.col("o.o_orderkey"), F.col("n.o_orderkey")).alias("o_orderkey"),
            F.when(F.col("o.o_orderkey").isNull(), F.lit("insert"))
            .when(F.col("n.o_orderkey").isNull(), F.lit("delete"))
            .otherwise(F.lit("update"))
            .alias("change_type"),
            F.col("o.o_orderkey").isNull().alias("_ins"),
            F.col("n.o_orderkey").isNull().alias("_del"),
            differs.alias("_diff"),
        )
        .filter(F.col("_ins") | F.col("_del") | F.col("_diff"))
        .select("o_orderkey", "change_type")
        .orderBy("o_orderkey")
    )


def incremental_daily_agg(existing_agg: DataFrame, new_lines: DataFrame, new_orders: DataFrame) -> DataFrame:
    """Incrementally fold a new batch into the gold daily rollup.

    The 100 TB operating mode: a day's new fact rows are aggregated
    alone (small) and MERGED into the standing gold table instead of
    recomputing history — per-key additive combine for the decomposable
    measures (counts, revenue). Only partitions present in the batch
    are touched, so the write (dynamic partition overwrite on date_key)
    is proportional to the batch, not the table. Non-decomposable
    measures (exact distinct) keep a per-order grain beside the rollup
    or switch to mergeable sketches (HLL) — see a02.

    Laws the test asserts: agg(A ∪ B) == fold(agg(A), B), and folding
    an empty batch is the identity.
    """
    delta = (
        new_lines.join(new_orders, new_lines.l_orderkey == new_orders.o_orderkey)
        .groupBy(F.date_format("o_orderdate", "yyyyMMdd").alias("date_key"))
        .agg(
            F.countDistinct("l_orderkey").alias("num_orders"),
            F.count("*").alias("num_lines"),
            # integer-cent partials: fold(agg(A), B) == agg(A ∪ B) is an
            # exact identity, not a float tolerance (skew01's rule)
            F.sum(
                F.floor((F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 100)
            ).alias("revenue_cents"),
        )
    )
    combined = existing_agg.unionByName(delta)
    return combined.groupBy("date_key").agg(
        F.sum("num_orders").alias("num_orders"),
        F.sum("num_lines").alias("num_lines"),
        F.sum("revenue_cents").alias("revenue_cents"),
    )


# --- wh04: SCD2 merge-apply ------------------------------------------------

SCD2_T0 = "2024-01-01"
SCD2_T1 = "2024-06-01"


@query(
    "wh04_scd2_merge",
    oracle=f"""
    WITH base AS (
        SELECT c_custkey, CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_cents
        FROM customer
    ), changes AS (
        SELECT c_custkey, bal_cents + 10000 AS bal_cents
        FROM base WHERE c_custkey % 7 = 0
    )
    SELECT b.c_custkey AS custkey, b.bal_cents,
           '{SCD2_T0}' AS valid_from,
           CASE WHEN c.c_custkey IS NULL THEN NULL ELSE '{SCD2_T1}' END AS valid_to,
           c.c_custkey IS NULL AS is_current
    FROM base b LEFT JOIN changes c ON b.c_custkey = c.c_custkey
    UNION ALL
    SELECT c_custkey, bal_cents, '{SCD2_T1}', NULL, TRUE FROM changes
    ORDER BY custkey, valid_from
    """,
)
def wh04_scd2_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 merge-APPLY: fold a change batch into a type-2 dimension —
    close the changed keys' current intervals at T1, open new current
    rows, pass unchanged keys through.

    The WRITE side of the SCD2 story (j11 reads point-in-time, w09
    derives validity intervals, ups01 is the type-1 latest-wins twin):
    one LEFT join of the current state against the change batch
    decides close-vs-passthrough per key, and the change batch itself
    becomes the newly-opened rows — two data-sized relations, one
    join, one union, no window needed because the incoming batch
    carries exactly one change per key (the multi-change-per-batch
    form adds ups01's version window in front). Money stays integer
    cents; interval bounds are date STRINGS on both engines (the
    dtype-trap rule).

    Idempotence note (the production contract, pytest-pinned): applying
    the same batch to the already-merged state must not close the new
    rows again — the merge matches on (key AND bal differs), so a
    replayed identical change is a no-op passthrough.

    Parity: the reference rebuilds dimensions wholesale per batch
    (cbddl/src/etl/pipeline.py:479-565); interval-preserving history is
    the beyond-reference warehouse extension.
    """
    customer = load_table(spark, sf_dir, "customer")
    base = customer.select(
        "c_custkey",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal_cents"),
    )
    state0 = base.select(
        F.col("c_custkey").alias("custkey"),
        "bal_cents",
        F.lit(SCD2_T0).alias("valid_from"),
        F.lit(None).cast("string").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    changes = base.filter(F.col("c_custkey") % 7 == 0).select(
        F.col("c_custkey").alias("custkey"),
        (F.col("bal_cents") + 10000).alias("bal_cents"),
    )
    return scd2_merge(state0, changes, SCD2_T1).orderBy("custkey", "valid_from")


def scd2_merge(state: DataFrame, changes: DataFrame, t1: str) -> DataFrame:
    """Fold a one-row-per-key change batch into an SCD2 state relation.

    ``state``: (custkey, bal_cents, valid_from, valid_to, is_current);
    ``changes``: (custkey, bal_cents). Close-and-open happens ONLY when
    the incoming value actually differs — a replayed identical batch is
    a passthrough, which is the idempotence contract a crash-replaying
    loader relies on (pytest-pinned). History rows pass through
    untouched; all relations stay key-partitioned.
    """
    cur = state.filter(F.col("is_current"))
    hist = state.filter(~F.col("is_current"))
    ch = changes.select(
        F.col("custkey").alias("k"), F.col("bal_cents").alias("new_bal")
    )
    j = cur.join(ch, cur["custkey"] == ch["k"], "left")
    is_changed = F.col("k").isNotNull() & (F.col("bal_cents") != F.col("new_bal"))
    passthrough = j.filter(~is_changed).select(*state.columns)
    closed = j.filter(is_changed).select(
        "custkey",
        "bal_cents",
        "valid_from",
        F.lit(t1).alias("valid_to"),
        F.lit(False).alias("is_current"),
    )
    opened = j.filter(is_changed).select(
        "custkey",
        F.col("new_bal").alias("bal_cents"),
        F.lit(t1).alias("valid_from"),
        F.lit(None).cast("string").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    return hist.unionByName(passthrough).unionByName(closed).unionByName(opened)


# --- wh05: CDC changelog apply (I/U/D, last-op-wins) -----------------------------

CDC_CUTOFF = "1999-01-01"  # orders before this date are the state snapshot


@query(
    "wh05_cdc_apply",
    oracle=f"""
    WITH state AS (
        SELECT o_custkey AS k, o_orderstatus AS status,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
                       ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
            FROM orders WHERE o_orderdate < DATE '{CDC_CUTOFF}'
        ) WHERE rn = 1
    ), log AS (
        SELECT o_custkey AS k,
               CASE WHEN o_orderstatus = 'P' THEN 'D' ELSE 'U' END AS op,
               o_orderstatus AS status,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
                       ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
            FROM orders WHERE o_orderdate >= DATE '{CDC_CUTOFF}'
        ) WHERE rn = 1
    ), applied AS (
        SELECT COALESCE(l.k, s.k) AS k,
               CASE WHEN l.k IS NULL THEN s.status ELSE l.status END AS status,
               CASE WHEN l.k IS NULL THEN s.cents ELSE l.cents END AS cents,
               CASE WHEN l.op = 'D' THEN 1 ELSE 0 END AS deleted
        FROM state s FULL OUTER JOIN log l ON s.k = l.k
    )
    SELECT status, CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(cents) AS BIGINT) AS total_cents
    FROM applied WHERE deleted = 0
    GROUP BY status ORDER BY status
    """,
)
def wh05_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog apply — the third member of the merge family
    (ups01 = type-1 upsert, wh04 = SCD2 close-and-open, this = an
    insert/update/DELETE opcode log folded onto a snapshot, the Debezium
    /'MERGE WHEN MATCHED DELETE' shape). The snapshot is each customer's
    latest pre-cutoff order; the changelog is the post-cutoff stream
    collapsed last-op-wins per key (one window, event-time + key tie
    order — the ups01 discipline); 'P' status models the tombstone.

    Apply = ONE full-outer join: log-absent keys pass through, log-hit
    keys take the log payload, tombstoned keys drop. Replaying the same
    changelog is a no-op by construction (last-op-wins is idempotent) —
    the property a crash-replaying CDC consumer needs. Output is the
    applied table's per-status profile (integer cents) so the whole
    final state is certified, not a sample. At 100 TB both sides
    key-partition on k and the join co-locates; the tombstone filter is
    map-side.
    """
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    rn = F.row_number().over(
        Window.partitionBy("o_custkey").orderBy(
            F.desc("o_orderdate"), F.desc("o_orderkey")
        )
    )
    state = (
        orders.filter(F.col("o_orderdate") < F.lit(CDC_CUTOFF).cast("timestamp"))
        .select("o_custkey", "o_orderstatus", cents.alias("cents"), rn.alias("rn"))
        .filter(F.col("rn") == 1)
        .select(
            F.col("o_custkey").alias("k"),
            F.col("o_orderstatus").alias("s_status"),
            F.col("cents").alias("s_cents"),
        )
    )
    log = (
        orders.filter(F.col("o_orderdate") >= F.lit(CDC_CUTOFF).cast("timestamp"))
        .select("o_custkey", "o_orderstatus", cents.alias("cents"), rn.alias("rn"))
        .filter(F.col("rn") == 1)
        .select(
            F.col("o_custkey").alias("k"),
            F.when(F.col("o_orderstatus") == "P", F.lit("D"))
            .otherwise(F.lit("U"))
            .alias("op"),
            F.col("o_orderstatus").alias("l_status"),
            F.col("cents").alias("l_cents"),
        )
    )
    applied = (
        state.join(log, "k", "full_outer")
        .filter((F.col("op").isNull()) | (F.col("op") != "D"))
        .select(
            F.when(F.col("op").isNull(), F.col("s_status"))
            .otherwise(F.col("l_status"))
            .alias("status"),
            F.when(F.col("op").isNull(), F.col("s_cents"))
            .otherwise(F.col("l_cents"))
            .alias("cents"),
        )
    )
    return (
        applied.groupBy("status")
        .agg(F.count("*").alias("n_keys"), F.sum("cents").alias("total_cents"))
        .orderBy("status")
    )


# --- wh06: shuffle-partition skew audit ------------------------------------------

WH06_BUCKETS = 32
WH06_HOT_MILLI = 1500  # flag buckets carrying >= 1.5x their fair share


@query(
    "wh06_partition_skew_audit",
    oracle=f"""
    WITH b AS (
        SELECT {md5_bucket_sql("CAST(l_orderkey AS VARCHAR)", WH06_BUCKETS)} AS bucket,
               l_orderkey
        FROM lineitem
    ), per AS (
        SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_keys
        FROM b GROUP BY bucket
    ), tot AS (
        SELECT CAST(SUM(n_rows) AS BIGINT) AS t FROM per
    )
    SELECT p.bucket, p.n_rows, p.n_keys,
           ({WH06_BUCKETS} * 1000 * p.n_rows) // tot.t AS load_milli,
           ({WH06_BUCKETS} * 1000 * p.n_rows) // tot.t >= {WH06_HOT_MILLI}
               AS is_hot
    FROM per p CROSS JOIN tot
    ORDER BY p.bucket
    """,
)
def wh06_partition_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-partition skew audit: simulate the {WH06_BUCKETS}-way
    hash partitioning of the fact table on its join key and report
    each bucket's load relative to fair share — the pre-flight check
    that tells you whether a key needs salting (skew01/skew02's
    remedies) or AQE skew-join splitting BEFORE the 100 TB shuffle
    runs, not after one straggler task blows the stage.

    ``load_milli`` = 1000 × bucket_rows / fair_share, an exact BIGINT
    cross-multiplication; ``is_hot`` flags ≥ {WH06_HOT_MILLI}‰ (1.5×
    fair share — the conventional AQE skew threshold shape). The
    bucketing hash is the repo's md5 bucket (engine-replayable in the
    oracle), standing in for the engine's internal hash partitioner:
    what is being audited is the KEY DISTRIBUTION, which any uniform
    hash exposes identically.

    Scale shape: one bucket-keyed aggregate with map-side partials
    ({WH06_BUCKETS} groups), a 1-row total broadcast back onto it —
    the audit costs one scan regardless of corpus size.

    Parity: beyond-reference (scale-operations mandate; remedy twins
    skew01_salted_agg / skew02_salted_join).
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    per = (
        lineitem.select(
            md5_bucket(F.col("l_orderkey"), WH06_BUCKETS).alias("bucket"), "l_orderkey"
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_rows"),
            F.countDistinct("l_orderkey").alias("n_keys"),
        )
    )
    tot = per.agg(F.sum("n_rows").alias("t"))
    load = F.expr(f"({WH06_BUCKETS} * 1000 * n_rows) div t")
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            "n_rows",
            "n_keys",
            load.alias("load_milli"),
            (load >= WH06_HOT_MILLI).alias("is_hot"),
        )
        .orderBy("bucket")
    )


@query(
    "wh07_snapshot_diff",
    oracle="""
    WITH a AS (
        SELECT o_custkey AS custkey,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01'
        GROUP BY o_custkey
    ), b AS (
        SELECT o_custkey AS custkey,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        GROUP BY o_custkey
    )
    SELECT COALESCE(a.custkey, b.custkey) AS custkey,
           a.rev_cents AS rev_a_cents,
           b.rev_cents AS rev_b_cents,
           CAST(COALESCE(b.rev_cents, 0) - COALESCE(a.rev_cents, 0) AS BIGINT) AS delta_cents,
           CASE WHEN a.custkey IS NULL THEN 'added'
                WHEN b.custkey IS NULL THEN 'removed'
                WHEN a.rev_cents = b.rev_cents THEN 'unchanged'
                ELSE 'changed' END AS change_type
    FROM a FULL OUTER JOIN b ON a.custkey = b.custkey
    ORDER BY custkey
    """,
)
def wh07_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff audit: the keyed added/removed/changed/unchanged
    classification between two derived warehouse snapshots (per-customer
    revenue in 1995 vs 1996) — the validation pass a CDC apply (wh05) or
    a backfill owes its operator before publishing, answering "what did
    this refresh actually change?" row by row.

    One FULL OUTER JOIN on the snapshot key; revenue in integer cents
    (the er03 rule — never hash a float SUM of money) so both the
    values and the equality classification are engine-exact. At scale
    both sides shuffle once on custkey and the join reuses that
    partitioning; diff output is bounded by churn, not table size.

    Parity: reference's pipeline validation counts
    (cbddl/src/etl/pipeline.py record-count checks) upgraded to a
    keyed, value-exact diff.
    """
    orders = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100).cast("long")

    def snap(lo: str, hi: str) -> DataFrame:
        return (
            orders.filter(
                (F.col("o_orderdate") >= F.lit(lo).cast("timestamp"))
                & (F.col("o_orderdate") < F.lit(hi).cast("timestamp"))
            )
            .groupBy(F.col("o_custkey").alias("custkey"))
            .agg(F.sum(cents).alias("rev_cents"))
        )

    a = snap("1995-01-01", "1996-01-01").alias("a")
    b = snap("1996-01-01", "1997-01-01").alias("b")
    return (
        a.join(b, F.col("a.custkey") == F.col("b.custkey"), "full_outer")
        .select(
            F.coalesce(F.col("a.custkey"), F.col("b.custkey")).alias("custkey"),
            F.col("a.rev_cents").alias("rev_a_cents"),
            F.col("b.rev_cents").alias("rev_b_cents"),
            (
                F.coalesce(F.col("b.rev_cents"), F.lit(0))
                - F.coalesce(F.col("a.rev_cents"), F.lit(0))
            ).alias("delta_cents"),
            F.when(F.col("a.custkey").isNull(), "added")
            .when(F.col("b.custkey").isNull(), "removed")
            .when(F.col("a.rev_cents") == F.col("b.rev_cents"), "unchanged")
            .otherwise("changed")
            .alias("change_type"),
        )
        .orderBy("custkey")
    )
