"""OLAP showcase queries (TPC-H-shaped) + skew-safe aggregation.

The reference's analytical surface is groupBy/topk over one flat table
(cbddl/src/analytics/demographics_analyzer.py); these queries exercise
the same operator families — multi-way joins, grouped multi-aggregates,
ordered top-k — at warehouse shape and scale, on the star schema the
test data ships. They're the bench headliners a 100 TB deployment would
actually run, and each plan is the one Catalyst should pick: filters at
the scan, dims broadcast, facts shuffled once on the join key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import generation, load_table
from ..registry import query

SALT_BUCKETS = 16


def _cents(col):
    """Per-row integer-cents quantization (er03/skew01's money rule).

    ``ROUND(SUM(double))`` is fold-order fragile: the r08 sf0.1 sweep
    caught skew01's salted two-stage sum landing on the other side of a
    rounding boundary from the oracle's single fold, and the same class
    reappears at any scale/partitioning change. Quantizing per row to
    BIGINT cents makes the SUM exact at any fold order. FLOOR (not
    ROUND, not a bare cast) because FLOOR parity holds between Spark
    and DuckDB including negatives, while DuckDB's double→int CAST
    rounds and Spark's truncates. Oracles use the literal twin
    ``CAST(FLOOR(x * 100) AS BIGINT)``.
    """
    return F.floor(col * F.lit(100))


@query(
    "q01_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(FLOOR(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
           CAST(SUM(CAST(FLOOR(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS sum_base_price_cents,
           CAST(SUM(CAST(FLOOR((l_extendedprice * (1 - l_discount)) * 100) AS BIGINT))
                AS BIGINT) AS sum_disc_price_cents,
           CAST(SUM(CAST(FLOOR((l_extendedprice * (1 - l_discount) * (1 + l_tax)) * 100)
                         AS BIGINT)) AS BIGINT) AS sum_charge_cents,
           ROUND(AVG(l_quantity), 6) AS avg_qty,
           ROUND(AVG(l_extendedprice), 6) AS avg_price,
           ROUND(AVG(l_discount), 6) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: the canonical scan-heavy agg.

    One pass over the fact, grouped on a 6-value key — map-side partial
    aggregation collapses each scan partition to ≤6 rows, so the
    shuffle moves KBs regardless of fact size. The shipdate predicate
    reaches the parquet scan (row-group min/max pruning).

    Money sums are integer cents (``_cents``): exact at any fold order,
    so the result is partitioning-independent at 100 TB. Quantity is
    integral in the data — FLOOR changes nothing but pins the BIGINT
    sum. AVGs stay double: a mean's magnitude doesn't grow with scale,
    so its error-to-granularity ratio is flat, unlike an unbounded SUM.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        lineitem.filter(F.col("l_shipdate") <= F.lit("1998-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.floor("l_quantity")).alias("sum_qty"),
            F.sum(_cents(F.col("l_extendedprice"))).alias("sum_base_price_cents"),
            F.sum(_cents(disc_price)).alias("sum_disc_price_cents"),
            F.sum(_cents(disc_price * (1 + F.col("l_tax")))).alias("sum_charge_cents"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@query(
    "q03_shipping_priority",
    oracle="""
    SELECT o_orderkey,
           CAST(SUM(CAST(FLOOR((l_extendedprice * (1 - l_discount)) * 100) AS BIGINT))
                AS BIGINT) AS revenue_cents,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate > TIMESTAMP '1996-06-30 00:00:00'
    GROUP BY o_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue_cents DESC, o_orderkey ASC
    LIMIT 10
    """,
)
def q03_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped: selective dim filter → fact join → grouped top-k.

    customer filters to one segment and BROADCASTS into orders (the
    fact side never shuffles for the dim join); lineitem joins orders
    on the orderkey both are already keyed by. Final ordering is
    TakeOrderedAndProject — per-partition heaps, no global sort.
    Explicit revenue-then-key tiebreak keeps top-10 deterministic.
    """
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        lineitem.filter(F.col("l_shipdate") > F.lit("1996-06-30").cast("timestamp"))
        .join(
            orders.filter(F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp")),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(customer.filter(F.col("c_mktsegment") == "BUILDING")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.sum(_cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
                "revenue_cents"
            )
        )
        .select("o_orderkey", "revenue_cents", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue_cents"), F.asc("o_orderkey"))
        .limit(10)
    )


@query(
    "q05_supplier_volume",
    oracle="""
    SELECT n_name AS nation, r_name AS region,
           CAST(SUM(CAST(FLOOR((l_extendedprice * (1 - l_discount)) * 100) AS BIGINT))
                AS BIGINT) AS revenue_cents
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    GROUP BY n_name, r_name
    """,
)
def q05_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped: one fact-fact join + a broadcast dim chain.

    The join order matters at scale: lineitem⋈orders is the only
    shuffle (both sides keyed on orderkey); supplier→nation→region all
    broadcast, so the enriched fact stream never re-partitions. The
    orderdate filter pushes into the orders scan before the join.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        lineitem.join(
            orders.filter(F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp")),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("n_name").alias("nation"), F.col("r_name").alias("region"))
        .agg(
            F.sum(_cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
                "revenue_cents"
            )
        )
    )


@query(
    "q04_order_priority",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate)
    GROUP BY o_orderpriority
    """,
)
def q04_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-shaped: correlated EXISTS decorrelated into an aggregate.

    ``EXISTS (line shipped after order date)`` ⟺ ``max(l_shipdate) per
    order > o_orderdate`` — so instead of a semi join that shuffles
    every lineitem row (the naive plan; j09 shows the plain left_semi),
    lineitem pre-aggregates to one (orderkey, max_shipdate) row per
    order with map-side combine, shrinking the fact shuffle ~4× before
    a unique-key inner join that preserves semi semantics. The order
    date window pushes into the orders scan.
    """
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    last_ship = lineitem.groupBy("l_orderkey").agg(F.max("l_shipdate").alias("max_ship"))
    return (
        orders.filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
        )
        .join(last_ship, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(F.col("max_ship") > F.col("o_orderdate"))
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@query(
    "q12_priority_shipping",
    oracle="""
    SELECT l_linestatus,
           -- CAST: DuckDB SUM(int) -> HUGEINT -> pandas float64, vs
           -- Spark int64; the driver's hash is dtype-sensitive.
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l_linestatus
    """,
)
def q12_priority_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12-shaped: conditional counts over a fact-fact join.

    The classic "pivot a CASE over a join" shape: one orderkey shuffle
    joins the date-pruned lineitem to orders, then a 2-value groupBy
    splits each group into high/low-priority counts in a single pass
    (A3's conditional count at warehouse scale — never two scans, never
    two joins). Partial aggregation collapses to ≤2 rows per task.
    """
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@query(
    "q14_promo_revenue",
    oracle="""
    -- numerator/denominator as exact integer-cent sums (skew01's
    -- rule); 100·num/den is one deterministic double expression
    SELECT ROUND(100.00 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                                   THEN CAST(FLOOR((l_extendedprice * (1 - l_discount))
                                                   * 100) AS BIGINT)
                                   ELSE 0 END) AS DOUBLE) /
                 CAST(SUM(CAST(FLOOR((l_extendedprice * (1 - l_discount)) * 100)
                               AS BIGINT)) AS DOUBLE), 4) AS promo_revenue_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-shaped: global ratio of conditional sums over a join.

    One month of lineitem joins part on partkey; both conditional and
    total revenue accumulate in the same aggregate, so the ratio costs
    one pass. No broadcast hint on part: it scales with SF (not a
    broadcastable dim at 100 TB) but column pruning cuts it to two
    columns — AQE broadcasts locally where that projection is small
    and falls back to a shuffle join at scale. The one-month shipdate
    window prunes lineitem row groups at the scan.
    """
    part = load_table(spark, sf_dir, "part")
    lineitem = load_table(spark, sf_dir, "lineitem")
    rev_cents = _cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .join(part.select("p_partkey", "p_type"), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                100.0
                * F.sum(
                    F.when(F.col("p_type") == "PROMO", rev_cents).otherwise(F.lit(0))
                ).cast("double")
                / F.sum(rev_cents).cast("double"),
                4,
            ).alias("promo_revenue_pct")
        )
    )


@query(
    "q17_small_quantity_revenue",
    oracle="""
    -- exact integer-cent sum; the single /700.0 division and ROUND of
    -- one double are fold-order-proof
    SELECT ROUND(CAST(SUM(CAST(FLOOR(l.l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
                 / 700.0, 4) AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#1'
      AND l.l_quantity < (SELECT 0.2 * AVG(l2.l_quantity)
                          FROM lineitem l2
                          WHERE l2.l_partkey = l.l_partkey)
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-shaped: correlated per-group average, decorrelated.

    The correlated scalar subquery (``avg quantity of THIS part``)
    becomes a window average over the partkey partition — one shuffle
    keyed on partkey computes the threshold and applies the filter in
    the same stage, instead of a second lineitem scan joined back on
    itself (the naive decorrelation doubles the fact traffic). The
    brand filter broadcasts part, pruning lineitem BEFORE the window
    shuffle, so only matching parts' lines ever repartition.
    """
    from pyspark.sql import Window

    part = load_table(spark, sf_dir, "part")
    lineitem = load_table(spark, sf_dir, "lineitem")
    pruned = lineitem.join(
        F.broadcast(part.filter(F.col("p_brand") == "Brand#1").select("p_partkey")),
        F.col("l_partkey") == F.col("p_partkey"),
    )
    w = Window.partitionBy("l_partkey")
    return (
        pruned.withColumn("avg_qty", F.avg("l_quantity").over(w))
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            F.round(
                F.sum(_cents(F.col("l_extendedprice"))).cast("double") / F.lit(700.0), 4
            ).alias("avg_yearly")
        )
    )


@query(
    "q19_disjunctive_predicate_join",
    oracle="""
    SELECT CAST(SUM(CAST(FLOOR((l_extendedprice * (1 - l_discount)) * 100) AS BIGINT))
                AS BIGINT) AS revenue_cents
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#2' AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#3' AND l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_disjunctive_predicate_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-shaped: disjunction of conjunctions over one equi join.

    Unlike j02 (where the JOIN KEYS are disjunctive and need a union
    rewrite), here every disjunct shares the same equi key — Catalyst
    extracts ``p_partkey = l_partkey`` for the hash join and evaluates
    the OR as a residual filter on matched rows, so the plan stays a
    single join, no BNLJ. Derivable single-side prefilters (brand ∈
    {1,2,3}, quantity ∈ [1,30]) are pushed to each scan explicitly —
    the cross-disjunct implication Catalyst doesn't infer.
    """
    part = load_table(spark, sf_dir, "part")
    lineitem = load_table(spark, sf_dir, "lineitem")
    cases = [
        ("Brand#1", 1, 11),
        ("Brand#2", 10, 20),
        ("Brand#3", 20, 30),
    ]
    residual = None
    for brand, lo, hi in cases:
        c = (F.col("p_brand") == brand) & F.col("l_quantity").between(lo, hi)
        residual = c if residual is None else residual | c
    return (
        lineitem.filter(F.col("l_quantity").between(1, 30))
        .join(
            part.filter(F.col("p_brand").isin([b for b, _, _ in cases])).select(
                "p_partkey", "p_brand"
            ),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .filter(residual)
        .agg(
            F.sum(_cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
                "revenue_cents"
            )
        )
    )


@query(
    "q22_inactive_rich_customers",
    oracle="""
    WITH threshold AS (
        SELECT AVG(c_acctbal) AS avg_bal FROM customer WHERE c_acctbal > 0
    )
    SELECT c.c_mktsegment,
           COUNT(*) AS num_custs,
           -- FLOOR on negative balances floors toward -inf on BOTH
           -- engines (unlike int division) — cents stay exact
           CAST(SUM(CAST(FLOOR(c.c_acctbal * 100) AS BIGINT)) AS BIGINT)
               AS total_bal_cents
    FROM customer c, threshold t
    WHERE c.c_acctbal > t.avg_bal
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderpriority = '1-URGENT')
    GROUP BY c.c_mktsegment
    """,
)
def q22_inactive_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-shaped: scalar-aggregate threshold + filtered NOT EXISTS.

    Two subquery families in one plan: the global average becomes a
    1-row broadcast cross join (every executor compares against the
    local scalar — no shuffle), and NOT EXISTS becomes a left_anti
    join against orders pre-filtered to urgent priority and projected
    to its key column — the subquery's predicate pushes into the anti
    join's build side, not evaluated per probe. The anti join runs
    AFTER the threshold filter so only above-average customers probe.
    """
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    threshold = customer.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    return (
        customer.crossJoin(F.broadcast(threshold))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(
            orders.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left_anti",
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("num_custs"),
            F.sum(_cents(F.col("c_acctbal"))).alias("total_bal_cents"),
        )
    )


@query(
    "q02_min_cost_supplier",
    oracle="""
    WITH unit_costs AS (
        SELECT l_partkey, l_suppkey,
               l_extendedprice / l_quantity AS unit_cost
        FROM lineitem
        WHERE l_quantity > 0
    ), best AS (
        SELECT l_partkey, l_suppkey, unit_cost,
               ROW_NUMBER() OVER (PARTITION BY l_partkey
                                  ORDER BY unit_cost, l_suppkey) AS rn
        FROM unit_costs
    )
    SELECT b.l_partkey AS p_partkey, p.p_name, s.s_name AS best_supplier,
           ROUND(b.unit_cost, 4) AS min_unit_cost
    FROM best b
    JOIN part p ON p.p_partkey = b.l_partkey
    JOIN supplier s ON s.s_suppkey = b.l_suppkey
    WHERE b.rn = 1 AND p.p_size <= 5
    ORDER BY min_unit_cost DESC, p_partkey ASC
    LIMIT 20
    """,
)
def q02_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2-shaped: argmin-per-group join (cheapest supplier per part).

    The correlated ``cost = (SELECT MIN(cost) ... WHERE partkey = outer)``
    pattern becomes a single hash aggregate: ``min(struct(cost, suppkey))``
    is a lexicographic argmin with the suppkey tiebreak built into the
    comparison — no sort, map-side combine, one buffer row per part —
    where the oracle's window ``row_number()=1`` formulation pays a full
    partition sort (the same hash-agg-beats-window lesson as the upsert's
    max_by rewrite, PERF.md). The size prefilter broadcasts part so only
    qualifying parts' lines aggregate; supplier broadcasts for the name.
    """
    part = load_table(spark, sf_dir, "part")
    supplier = load_table(spark, sf_dir, "supplier")
    lineitem = load_table(spark, sf_dir, "lineitem")
    best = (
        lineitem.filter(F.col("l_quantity") > 0)
        .join(
            F.broadcast(part.filter(F.col("p_size") <= 5).select("p_partkey", "p_name")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("p_partkey", "p_name")
        .agg(
            F.min(
                F.struct(
                    (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost"),
                    F.col("l_suppkey").alias("suppkey"),
                )
            ).alias("best")
        )
    )
    return (
        best.join(
            F.broadcast(supplier.select("s_suppkey", "s_name")),
            F.col("best.suppkey") == F.col("s_suppkey"),
        )
        .select(
            "p_partkey",
            "p_name",
            F.col("s_name").alias("best_supplier"),
            F.round(F.col("best.unit_cost"), 4).alias("min_unit_cost"),
        )
        .orderBy(F.desc("min_unit_cost"), F.asc("p_partkey"))
        .limit(20)
    )


@query(
    "q10_returned_items",
    oracle="""
    SELECT c_custkey, c_name, n_name AS nation,
           CAST(SUM(CAST(FLOOR((l_extendedprice * (1 - l_discount)) * 100) AS BIGINT))
                AS BIGINT) AS revenue_cents
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue_cents DESC, c_custkey ASC
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-shaped: returned-items revenue ranking (grouped top-k).

    The returnflag filter prunes lineitem AT THE SCAN (pushed predicate)
    before the one fact-fact shuffle on orderkey; the date window prunes
    orders the same way. customer is unhinted — it scales with SF, so
    AQE picks broadcast locally and shuffle join at 100 TB — while the
    25-row nation always broadcasts. Final top-20 is
    TakeOrderedAndProject with an explicit custkey tiebreak.
    """
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    nation = load_table(spark, sf_dir, "nation")
    return (
        lineitem.filter(F.col("l_returnflag") == "R")
        .join(
            orders.filter(
                (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", F.col("n_name").alias("nation"))
        .agg(
            F.sum(_cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
                "revenue_cents"
            )
        )
        .orderBy(F.desc("revenue_cents"), F.asc("c_custkey"))
        .limit(20)
    )


@query(
    "q15_top_supplier",
    oracle="""
    WITH revenue AS (
        SELECT l_suppkey,
               CAST(SUM(CAST(FLOOR((l_extendedprice * (1 - l_discount)) * 100)
                             AS BIGINT)) AS BIGINT) AS total_revenue_cents
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue_cents
    FROM supplier
    JOIN revenue ON s_suppkey = l_suppkey
    WHERE total_revenue_cents = (SELECT MAX(total_revenue_cents) FROM revenue)
    ORDER BY s_suppkey
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15-shaped: view-over-aggregate + scalar-max subquery.

    The revenue "view" is one quarter of lineitem aggregated per
    supplier (map-side combine → one row per supplier); the
    ``= (SELECT MAX ...)`` filter becomes a 1-row broadcast cross join
    against the aggregate's own max — the aggregate is computed ONCE and
    pinned for its two consumers (max + filter), where the naive
    translation re-scans lineitem for the subquery. Equality on the
    identically-rounded value keeps tie handling exact on both sides.
    """
    supplier = load_table(spark, sf_dir, "supplier")
    lineitem = load_table(spark, sf_dir, "lineitem")
    revenue = generation("q15_top_supplier")(
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(
            F.sum(_cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
                "total_revenue_cents"
            )
        )
    )
    top = revenue.agg(F.max("total_revenue_cents").alias("max_revenue"))
    return (
        revenue.crossJoin(F.broadcast(top))
        .filter(F.col("total_revenue_cents") == F.col("max_revenue"))
        .join(F.broadcast(supplier.select("s_suppkey", "s_name")), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue_cents")
        .orderBy("s_suppkey")
    )


@query(
    "skew01_salted_agg",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n_lines,
           CAST(SUM(CAST(FLOOR(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS total_cents
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def skew01_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-stage aggregation over a pathologically skewed key.

    l_returnflag has 3 values — at 100 TB a direct groupBy lands the
    whole fact on 3 reducers. Salting appends a uniform bucket to the
    key for the heavy first shuffle (fan-out 3×16), then a second,
    trivially small shuffle combines buckets. Results are exactly the
    plain GROUP BY (count/sum are decomposable); AQE's skew handling
    only covers *joins*, so skewed aggs still need this pattern when
    partial aggregation alone can't absorb the skew (e.g. after a
    preceding shuffle already co-located the hot key).

    The sum is INTEGER CENTS (er03's money rule): a salted two-stage
    float SUM folds in a different order than the oracle's single SUM,
    and at sf0.1 volume (~1e10 totals) the double's low bits land
    exactly at a ROUND(,4) boundary — the r08 sf0.1 differential sweep
    caught precisely that (0.9498 vs .95). Integer cents make the
    decomposition exact at any scale and any fold order.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    cents = F.floor(F.col("l_extendedprice") * 100).cast("long")
    salted = lineitem.withColumn(
        "salt", F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(SALT_BUCKETS))
    )
    partial = salted.groupBy("l_returnflag", "salt").agg(
        F.count("*").alias("pn"), F.sum(cents).alias("ps")
    )
    return partial.groupBy("l_returnflag").agg(
        F.sum("pn").alias("n_lines"), F.sum("ps").alias("total_cents")
    )


@query(
    "skew02_salted_join",
    oracle="""
    SELECT l.l_returnflag, f.flag_desc, COUNT(*) AS n_lines
    FROM lineitem l
    JOIN (VALUES ('A', 'returned'), ('N', 'kept'), ('R', 'refunded')) AS f(flag, flag_desc)
      ON l.l_returnflag = f.flag
    GROUP BY l.l_returnflag, f.flag_desc
    """,
)
def skew02_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted join over a pathologically skewed key, exact parity.

    Joining a fact on a 3-value key sends each value's entire volume to
    one reducer when the join must shuffle. Salting fixes the shape
    mechanically: the big side appends a uniform salt to its key, the
    small side is exploded once per salt value, and the join runs on
    (key, salt) — fan-out SALT_BUCKETS× on the tiny side, uniform
    parallelism on the big side. AQE's skew-join splitting covers the
    sort-merge case adaptively; explicit salting is the deterministic
    form that also works for aggregations-after-join and stream-stream
    joins where AQE can't re-plan. Results are exactly the plain join.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    dim = spark.createDataFrame(
        [("A", "returned"), ("N", "kept"), ("R", "refunded")], "flag string, flag_desc string"
    )
    salted_fact = lineitem.withColumn(
        "salt", F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(SALT_BUCKETS))
    )
    salted_dim = dim.withColumn(
        "salt", F.explode(F.array(*[F.lit(i) for i in range(SALT_BUCKETS)]))
    )
    return (
        salted_fact.join(
            F.broadcast(salted_dim),
            (F.col("l_returnflag") == F.col("flag")) & (salted_fact.salt == salted_dim.salt),
        )
        .groupBy("l_returnflag", "flag_desc")
        .agg(F.count("*").alias("n_lines"))
    )


@query(
    "q07_nation_trade_volume",
    oracle="""
    SELECT supp_nation, cust_nation, l_year,
           CAST(SUM(volume_cents) AS BIGINT) AS revenue_cents
    FROM (
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               EXTRACT(year FROM l_shipdate) AS l_year,
               CAST(FLOOR((l_extendedprice * (1 - l_discount)) * 100) AS BIGINT)
                   AS volume_cents
        FROM supplier
        JOIN lineitem ON s_suppkey = l_suppkey
        JOIN orders ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE (n1.n_name = 'NATION_18' AND n2.n_name = 'NATION_19')
           OR (n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_18')
    )
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def q07_nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-shaped: one dimension joined twice under different roles.

    nation participates as BOTH supplier-nation and customer-nation —
    two broadcast joins of the same 25-row table under distinct aliases
    (the dual-role dim pattern Catalyst handles by treating each alias
    as its own relation). The nation-pair disjunction can't prune
    either single join alone, but each side's membership (n_name ∈
    {1,2}) CAN be pushed into its broadcast build, shrinking both hash
    tables to 2 rows before the cross-pair residual filter. The only
    fact shuffle remains lineitem⋈orders on orderkey.
    """
    supplier = load_table(spark, sf_dir, "supplier")
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    nation = load_table(spark, sf_dir, "nation")
    pair = ("NATION_18", "NATION_19")
    n1 = nation.filter(F.col("n_name").isin(*pair)).select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.filter(F.col("n_name").isin(*pair)).select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supplier.select("s_suppkey", "s_nationkey")),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .join(customer.select("c_custkey", "c_nationkey"),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(
            F.sum(_cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
                "revenue_cents"
            )
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@query(
    "q13_customer_order_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (SELECT c_custkey, COUNT(o_orderkey) AS c_count
          FROM customer
          LEFT JOIN orders ON c_custkey = o_custkey
                          AND o_orderpriority <> '1-URGENT'
          GROUP BY c_custkey)
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q13_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13-shaped: outer-join count distribution (histogram of counts).

    The filter lives in the JOIN CONDITION, not WHERE — customers with
    zero qualifying orders survive with a NULL order side, and
    ``COUNT(o_orderkey)`` (not COUNT(*)) counts only matches, so the
    zero bucket is real. Classic two-level shape: the heavy shuffle
    groups per customer (map-side combine on the custkey the join
    already partitioned by — no second exchange), then the count-of-
    counts shuffle moves one row per distinct c_count.
    """
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = (
        customer.join(
            orders.filter(F.col("o_orderpriority") != "1-URGENT"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@query(
    "q16_supplier_part_variety",
    oracle="""
    SELECT p_brand, p_type, p_size,
           COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1'
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand ASC, p_type ASC, p_size ASC
    LIMIT 20
    """,
)
def q16_supplier_part_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16-shaped: distinct-count after a NOT-IN exclusion.

    ``NOT IN (subquery)`` becomes a left_anti join against the excluded
    supplier keys (safe here because s_suppkey is non-null; a nullable
    column would need NOT EXISTS semantics — null-safe anti — instead,
    the classic NOT IN trap). The anti join broadcasts the tiny
    exclusion set, so the fact stream never shuffles for it; the one
    real exchange is the distinct-count's (brand, type, size, suppkey)
    partial-dedup shuffle.
    """
    part = load_table(spark, sf_dir, "part")
    supplier = load_table(spark, sf_dir, "supplier")
    lineitem = load_table(spark, sf_dir, "lineitem")
    excluded = supplier.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        lineitem.join(F.broadcast(excluded), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .join(
            part.filter(F.col("p_brand") != "Brand#1").select(
                "p_partkey", "p_brand", "p_type", "p_size"
            ),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), F.asc("p_brand"), F.asc("p_type"), F.asc("p_size"))
        .limit(20)
    )


@query(
    "q21_blocking_suppliers",
    oracle="""
    WITH supp_order AS (
        SELECT l_orderkey, l_suppkey, MAX(l_shipdate) AS supp_last
        FROM lineitem
        GROUP BY l_orderkey, l_suppkey
    ), stats AS (
        SELECT *,
               MAX(supp_last) OVER (PARTITION BY l_orderkey) AS order_last,
               COUNT(*) OVER (PARTITION BY l_orderkey) AS n_supp
        FROM supp_order
    ), flagged AS (
        SELECT *,
               SUM(CASE WHEN supp_last = order_last THEN 1 ELSE 0 END)
                   OVER (PARTITION BY l_orderkey) AS n_last
        FROM stats
    )
    SELECT s_name, COUNT(*) AS numwait
    FROM flagged
    JOIN supplier ON s_suppkey = l_suppkey
    WHERE n_supp > 1 AND n_last = 1 AND supp_last = order_last
    GROUP BY s_name
    ORDER BY numwait DESC, s_name ASC
    LIMIT 20
    """,
)
def q21_blocking_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21-shaped: EXISTS + NOT-EXISTS self-joins, decorrelated.

    Q21's "supplier who alone held up a multi-supplier order" is two
    correlated subqueries over the SAME fact (exists another supplier;
    not exists another LATE supplier) — the naive plan scans lineitem
    three times and self-joins twice. Decorrelated: pre-aggregate to
    one row per (order, supplier), then per-order windows (max ship,
    supplier count, count-at-max) — ONE lineitem scan, ONE orderkey
    shuffle that the pre-agg, both window passes, and the residual
    filter all share. The sole-blocker condition becomes pure column
    predicates: n_supp > 1, n_last = 1, supp_last = order_last.
    """
    from pyspark.sql import Window

    supplier = load_table(spark, sf_dir, "supplier")
    lineitem = load_table(spark, sf_dir, "lineitem")
    supp_order = lineitem.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("l_shipdate").alias("supp_last")
    )
    w = Window.partitionBy("l_orderkey")
    stats = supp_order.withColumn("order_last", F.max("supp_last").over(w)).withColumn(
        "n_supp", F.count("*").over(w)
    )
    flagged = stats.withColumn(
        "n_last",
        F.sum(F.when(F.col("supp_last") == F.col("order_last"), 1).otherwise(0)).over(w),
    )
    return (
        flagged.filter(
            (F.col("n_supp") > 1)
            & (F.col("n_last") == 1)
            & (F.col("supp_last") == F.col("order_last"))
        )
        .join(F.broadcast(supplier.select("s_suppkey", "s_name")),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(20)
    )


@query(
    "q06_forecast_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(FLOOR((l_extendedprice * l_discount) * 100) AS BIGINT))
                AS BIGINT) AS revenue_cents,
           COUNT(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.04 AND 0.06
      AND l_quantity < 24
    """,
)
def q06_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-shaped: pure scan-predicate-aggregate, zero joins.

    The whole query is a single scan stage: all three predicates are
    pushed to the parquet reader (shipdate range prunes row groups via
    min/max footer stats; discount/quantity filter the remaining
    batches vectorized), and the ungrouped SUM collapses each scan
    partition to one partial row — at 100 TB this moves a few bytes
    per task to the driver. The canonical "is pushdown working"
    sentinel: if .explain doesn't show all three in PushedFilters,
    the scan is reading 25× more rows than needed.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount").between(0.04, 0.06))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(_cents(F.col("l_extendedprice") * F.col("l_discount"))).alias(
                "revenue_cents"
            ),
            F.count("*").alias("n_lines"),
        )
    )


@query(
    "q08_market_share",
    oracle="""
    SELECT o_year,
           -- numerator/denominator are EXACT integer-cent sums; the one
           -- float op is a single division of identical integers on
           -- both engines, so the ROUND is fold-order-proof
           ROUND(CAST(SUM(CASE WHEN supp_nation = 'NATION_5'
                               THEN volume_cents ELSE 0 END) AS DOUBLE)
                 / CAST(SUM(volume_cents) AS DOUBLE), 6) AS mkt_share
    FROM (
        SELECT EXTRACT(year FROM o_orderdate) AS o_year,
               CAST(FLOOR((l_extendedprice * (1 - l_discount)) * 100) AS BIGINT)
                   AS volume_cents,
               n2.n_name AS supp_nation
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON c_nationkey = n1.n_nationkey
        JOIN region ON n1.n_regionkey = r_regionkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation n2 ON s_nationkey = n2.n_nationkey
        WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
    )
    GROUP BY o_year
    ORDER BY o_year
    """,
)
def q08_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8-shaped: one nation's share of a region's market by year.

    Seven-relation star flattening where every dimension broadcasts:
    part (filtered to one type) and customer-side nation→region chain
    prune the fact BEFORE the single fact-fact shuffle
    (lineitem⋈orders on orderkey); supplier-side nation is a second
    role of the same dim, aliased. The numerator/denominator pair is
    one conditional aggregate — NOT two passes — the map-side partial
    carries both sums per year. Share-of-total inside one groupBy is
    the pattern that avoids a self-join at 100 TB.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    supplier = load_table(spark, sf_dir, "supplier")
    amer_nations = (
        nation.join(
            F.broadcast(region.filter(F.col("r_name") == "AMERICA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        ).select(F.col("n_nationkey").alias("cust_nkey"))
    )
    supp_nation = nation.select(
        F.col("n_nationkey").alias("supp_nkey"), F.col("n_name").alias("supp_nation")
    )
    volume_cents = _cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        lineitem.join(
            F.broadcast(part.filter(F.col("p_type") == "ECONOMY").select("p_partkey")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(customer.select("c_custkey", "c_nationkey")),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(amer_nations), F.col("c_nationkey") == F.col("cust_nkey"))
        .join(F.broadcast(supplier.select("s_suppkey", "s_nationkey")),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(supp_nation), F.col("s_nationkey") == F.col("supp_nkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_5", volume_cents).otherwise(
                        F.lit(0)
                    )
                ).cast("double")
                / F.sum(volume_cents).cast("double"),
                6,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


@query(
    "q09_product_profit",
    oracle="""
    SELECT nation, o_year, CAST(SUM(amount_cents) AS BIGINT) AS profit_cents
    FROM (
        SELECT n_name AS nation,
               EXTRACT(year FROM o_orderdate) AS o_year,
               CAST(FLOOR((l_extendedprice * (1 - l_discount)
                           - 0.6 * p_retailprice * l_quantity) * 100) AS BIGINT)
                   AS amount_cents
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN part ON l_partkey = p_partkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE p_name LIKE '%widget%'
    )
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
    """,
)
def q09_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9-shaped: per-nation yearly profit on a part-name subset.

    The test schema has no partsupp, so supply cost is modeled as
    0.6 × p_retailprice × quantity (same join/agg DAG as Q9:
    fact⋈part⋈supplier⋈orders⋈nation with a substring part filter —
    reference parity for the operator shape, not the constant).
    The LIKE '%widget%' filter can't use footer stats but IS pushed
    to the scan as a row-level predicate; part then broadcasts
    pre-shrunk. Only fact-sized shuffle: lineitem⋈orders on orderkey,
    then a (25 nations × 7 years)-key agg that map-side-collapses.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    part = load_table(spark, sf_dir, "part")
    orders = load_table(spark, sf_dir, "orders")
    nation = load_table(spark, sf_dir, "nation")
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.lit(0.6) * F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    return (
        lineitem.join(
            F.broadcast(
                part.filter(F.col("p_name").like("%widget%")).select(
                    "p_partkey", "p_retailprice"
                )
            ),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(F.broadcast(supplier.select("s_suppkey", "s_nationkey")),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders.select("o_orderkey", "o_orderdate"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(nation.select("n_nationkey", F.col("n_name").alias("nation"))),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("nation", F.year("o_orderdate").alias("o_year"))
        .agg(F.sum(_cents(amount)).alias("profit_cents"))
        .orderBy(F.asc("nation"), F.desc("o_year"))
    )


@query(
    "q20_excess_shipment_suppliers",
    oracle="""
    WITH shipped AS (
        SELECT l_suppkey, SUM(l_quantity) AS qty
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        WHERE p_name LIKE 'large%'
          AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY l_suppkey
    )
    SELECT s_name, ROUND(s_acctbal, 4) AS acctbal
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name IN ('NATION_3', 'NATION_7')
      AND s_suppkey IN (SELECT l_suppkey FROM shipped WHERE qty > 100)
    ORDER BY s_name
    """,
)
def q20_excess_shipment_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20-shaped: semi-join through a grouped subquery.

    The inner block (filtered fact ⋈ broadcast part → per-supplier
    quantity → HAVING) reduces the fact to supplier cardinality before
    any contact with the outer query; the outer side then LEFT SEMI
    joins supplier against that tiny keyset (no row duplication, no
    columns carried from the right). Supplier-side nation filter
    broadcasts. This decorrelates TPC-H Q20's nested IN chain the way
    Catalyst's RewritePredicateSubquery would — written explicitly so
    the semi-join is visible in the plan.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    shipped = (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .join(
            F.broadcast(part.filter(F.col("p_name").like("large%")).select("p_partkey")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 100)
        .select("l_suppkey")
    )
    return (
        supplier.join(
            F.broadcast(nation.filter(F.col("n_name").isin("NATION_3", "NATION_7"))),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(shipped, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_name", F.round("s_acctbal", 4).alias("acctbal"))
        .orderBy("s_name")
    )


@query(
    "q11_important_stock",
    oracle="""
    WITH national AS (
        SELECT l_partkey, l_extendedprice * (1 - l_discount) AS val
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE n_name = 'NATION_15'
    ), per_part AS (
        SELECT l_partkey AS partkey, SUM(val) AS stock_value
        FROM national GROUP BY 1
    )
    SELECT partkey, ROUND(stock_value, 4) AS stock_value
    FROM per_part
    WHERE stock_value > (SELECT SUM(stock_value) * 0.001 FROM per_part)
    ORDER BY stock_value DESC, partkey
    """,
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11-shaped: grouped value share vs a global-total threshold.

    The HAVING-against-a-scalar-subquery pattern (TPC-H Q11's
    ``sum(ps_supplycost*ps_availqty) > fraction * total``), re-keyed to
    this schema: per-part shipped value for one nation's suppliers (NATION_15, populated at every SF),
    kept only where it exceeds 0.1% of that nation's total. The
    supplier⋈nation prune broadcasts into the fact scan; the per-part
    aggregate is computed ONCE and pinned for its two consumers (the
    grand total and the threshold filter) — same shared-subplan
    tactic as q15. The scalar total re-enters as a 1-row broadcast
    nested-loop join, so no second pass over the fact. Completes the
    22-query TPC-H shape family (COVERAGE.md §OLAP). Like q15's, the
    pin is part-cardinality-sized and released by the next call
    (:func:`catalog.generation`).
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    national_suppliers = supplier.join(
        F.broadcast(nation.filter(F.col("n_name") == "NATION_15")),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey")
    per_part = generation("q11_important_stock")(
        lineitem.join(
            F.broadcast(national_suppliers), F.col("l_suppkey") == F.col("s_suppkey")
        )
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "stock_value"
            )
        )
    )
    total = per_part.agg((F.sum("stock_value") * 0.001).alias("threshold"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("stock_value") > F.col("threshold"))
        .select("partkey", F.round("stock_value", 4).alias("stock_value"))
        .orderBy(F.desc("stock_value"), "partkey")
    )
