"""Monitoring operators: metrics snapshot + rolling time-frame health.

Engine-side parity for the reference's monitoring layer
(cbddl/src/monitoring/pipeline_monitor.py:1-150), which exports
Prometheus-style gauges/counters (row counts, null rates, freshness)
from driver-side loops. Here each gauge is a column aggregate and the
whole snapshot is ONE long-format relation — the shape a metrics
scraper or a `foreachBatch` metrics sink consumes directly, computed
with map-side partial aggregation instead of per-table driver polls.

ts06 extends the ts* family (filters.py) with the TPC-DS-style rolling
window: per-key trailing 30-day RANGE frame over the daily grain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.sampling import md5_bucket
from ..registry import query
from .shared_oracles import md5_bucket_sql

# ab01–ab03's variant of a user: the parity of its md5 key hash.
_VARIANT_SQL = md5_bucket_sql("CAST(user_id AS VARCHAR)", 2)

ROLLING_DAYS = 30
_EPOCH_DAY0 = "2024-01-01"


def epoch_seconds_ntz(col_name: str):
    """Epoch seconds (fractional micros kept) of an NTZ timestamp column.

    Field extraction, not unix_timestamp (session-TZ-dependent and
    truncates to seconds) or unix_micros (LTZ-only). unix_date is
    int32, so it is cast to long BEFORE the 86400 multiply — the bare
    int product overflows (ANSI: throws) for dates >= 2038-01-19.
    """
    return (
        F.unix_date(F.col(col_name).cast("date")).cast("long") * 86400
        + F.hour(col_name) * 3600
        + F.minute(col_name) * 60
        + F.expr(f"date_part('SECOND', {col_name})")
    )


@query(
    "ts06_rolling_30d_frame",
    oracle=f"""
    WITH daily AS (
        SELECT event_type,
               CAST(ts AS DATE) AS day,
               DATE_DIFF('day', DATE '{_EPOCH_DAY0}', CAST(ts AS DATE)) AS day_num,
               SUM(value) AS day_value,
               COUNT(*) AS n_events
        FROM events
        GROUP BY event_type, CAST(ts AS DATE)
    )
    -- day ships as an ISO string; windowed SUM(int) CAST to BIGINT
    -- (DuckDB HUGEINT -> pandas float64 breaks the driver dtype hash)
    SELECT event_type, CAST(day AS VARCHAR) AS day,
           ROUND(day_value, 4) AS day_value,
           ROUND(AVG(day_value) OVER w, 4) AS avg_30d,
           CAST(SUM(n_events) OVER w AS BIGINT) AS events_30d,
           CAST(COUNT(*) OVER w AS INT) AS days_in_frame
    FROM daily
    WINDOW w AS (PARTITION BY event_type ORDER BY day_num
                 RANGE BETWEEN {ROLLING_DAYS - 1} PRECEDING AND CURRENT ROW)
    """,
)
def ts06_rolling_30d_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 30-day rolling aggregate per key (TPC-DS Q47/Q57 shape).

    The level-vs-trend monitor at monthly horizon: aggregate events to
    the (event_type, day) grain, then a RANGE frame over a NUMERIC day
    index computes each day's trailing-30-day average and volume.
    RANGE (not ROWS) is load-bearing: a gap day must not stretch the
    frame to 30 *observed* rows — the frame is defined by the calendar,
    so missing days shrink it. The window runs over the daily
    aggregate, never raw events (at 100 TB the daily grain is ~10^5
    rows per key-year — window input stays post-aggregation). The plan
    carries two exchanges — (event_type, day) for the aggregate, then
    event_type alone for the window (the coarser key does not satisfy
    the finer partitioning; same posture as ts04) — but both move
    daily-grain rows, never raw events.
    ``days_in_frame`` makes partial frames (series head) explicit so
    consumers can suppress alerts until the window fills.
    """
    events = load_table(spark, sf_dir, "events")
    day = F.col("ts").cast("date")
    daily = events.groupBy(
        "event_type",
        day.alias("day"),
        F.datediff(day, F.lit(_EPOCH_DAY0).cast("date")).alias("day_num"),
    ).agg(F.sum("value").alias("day_value"), F.count("*").alias("n_events"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day_num")
        .rangeBetween(-(ROLLING_DAYS - 1), 0)
    )
    return daily.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.round("day_value", 4).alias("day_value"),
        F.round(F.avg("day_value").over(w), 4).alias("avg_30d"),
        F.sum("n_events").over(w).alias("events_30d"),
        F.count("*").over(w).cast("int").alias("days_in_frame"),
    )


@query(
    "mon01_metrics_snapshot",
    oracle="""
    SELECT 'orders_rows' AS metric, CAST(COUNT(*) AS DOUBLE) AS value FROM orders
    UNION ALL
    SELECT 'lineitem_rows', CAST(COUNT(*) AS DOUBLE) FROM lineitem
    UNION ALL
    SELECT 'events_rows', CAST(COUNT(*) AS DOUBLE) FROM events
    UNION ALL
    SELECT 'documents_rows', CAST(COUNT(*) AS DOUBLE) FROM documents
    UNION ALL
    SELECT 'events_distinct_users', CAST(COUNT(DISTINCT user_id) AS DOUBLE)
    FROM events
    UNION ALL
    SELECT 'events_freshness_epoch_s', CAST(EPOCH(MAX(ts)) AS DOUBLE) FROM events
    UNION ALL
    SELECT 'events_null_props_frac',
           ROUND(SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 6)
    FROM events
    UNION ALL
    SELECT 'orders_avg_totalprice', ROUND(AVG(o_totalprice), 4) FROM orders
    UNION ALL
    SELECT 'documents_avg_chars', ROUND(AVG(CAST(n_chars AS DOUBLE)), 4)
    FROM documents
    """,
)
def mon01_metrics_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One long-format metrics snapshot: (metric, value) gauge rows.

    The engine-side form of the reference's Prometheus export
    (pipeline_monitor.py's row-count / freshness / null-rate gauges):
    every gauge is a column aggregate with map-side partials, the
    per-table scans run as independent 1-row jobs unioned into one
    relation, and the output shape is scraper-ready long format — no
    driver-side loops over tables, no per-metric round trips. At scale
    each leg reads only the columns its gauges need (count-only legs
    scan zero columns via parquet row-group counts).
    """
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    events = load_table(spark, sf_dir, "events")
    documents = load_table(spark, sf_dir, "documents")

    def gauge(name: str, df_agg: DataFrame) -> DataFrame:
        return df_agg.select(
            F.lit(name).alias("metric"), F.col("value").cast("double").alias("value")
        )

    legs = [
        gauge("orders_rows", orders.agg(F.count("*").alias("value"))),
        gauge("lineitem_rows", lineitem.agg(F.count("*").alias("value"))),
        gauge("events_rows", events.agg(F.count("*").alias("value"))),
        gauge("documents_rows", documents.agg(F.count("*").alias("value"))),
        gauge(
            "events_distinct_users",
            events.agg(F.countDistinct("user_id").alias("value")),
        ),
        gauge(
            "events_freshness_epoch_s",
            events.agg(F.max("ts").alias("mx")).select(
                epoch_seconds_ntz("mx").alias("value")
            ),
        ),
        gauge(
            "events_null_props_frac",
            events.agg(
                F.round(
                    F.sum(F.when(F.col("props").isNull(), 1).otherwise(0))
                    / F.count("*"),
                    6,
                ).alias("value")
            ),
        ),
        gauge(
            "orders_avg_totalprice",
            orders.agg(F.round(F.avg("o_totalprice"), 4).alias("value")),
        ),
        gauge(
            "documents_avg_chars",
            documents.agg(
                F.round(F.avg(F.col("n_chars").cast("double")), 4).alias("value")
            ),
        ),
    ]
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out


@query(
    "ts07_gap_fill",
    oracle="""
    WITH bounds AS (
        SELECT DATE_TRUNC('hour', MIN(ts)) AS h0, DATE_TRUNC('hour', MAX(ts)) AS h1
        FROM events
    ), spine AS (
        SELECT t.event_type, g.h AS hour_start
        FROM (SELECT DISTINCT event_type FROM events) t
        CROSS JOIN (SELECT UNNEST(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
                    FROM bounds) g
    ), hourly AS (
        SELECT event_type, DATE_TRUNC('hour', ts) AS hour_start,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS observed_cents
        FROM events GROUP BY 1, 2
    )
    SELECT s.event_type, s.hour_start,
           h.observed_cents IS NULL AS is_gap,
           CAST(COALESCE(
               LAST_VALUE(h.observed_cents IGNORE NULLS) OVER (
                   PARTITION BY s.event_type ORDER BY s.hour_start
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               0) AS BIGINT) AS filled_cents
    FROM spine s
    LEFT JOIN hourly h
      ON s.event_type = h.event_type AND s.hour_start = h.hour_start
    ORDER BY s.event_type, s.hour_start
    """,
)
def ts07_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resampling: dense hourly spine + forward-fill.

    The missing-half of rollups like ts01: aggregation only emits hours
    that HAVE events, but downstream consumers (dashboards, anomaly
    detectors like dq03, feature pipelines) need a regular grid.
    Construct the complete per-type hourly spine (``sequence`` between
    the corpus's hour bounds, exploded, crossed with the event-type
    dim), left-join the observed hourly sums, and carry the last
    observation forward with ``last(ignorenulls)`` over an
    unbounded-preceding frame; hours before the first observation fill
    with 0. Hourly money sums use er03's integer-cent idiom so
    cross-engine float summation order cannot flip a cent.

    Scale shape: the spine is BOUNDED — hours-in-range × event types,
    independent of event count — so its crossJoin is dim-sized by
    construction, never data-sized; the real data touches one hash
    aggregate (map-side partials) and one join keyed on (type, hour).
    The forward-fill window partitions by event_type — parallel across
    types; within one type the fill is inherently sequential in time,
    and at finer grains production splits the frame per day and chains
    the day-boundary carry (the same decomposition inc01 applies to
    aggregates).
    """
    events = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("long")
    return (
        gap_fill(events, ["event_type"], "ts", F.sum(cents), grain="hour")
        .select(
            "event_type",
            F.col("bucket_start").alias("hour_start"),
            "is_gap",
            F.col("filled").alias("filled_cents"),
        )
        .orderBy("event_type", "hour_start")
    )


def gap_fill(
    df: DataFrame,
    key_cols: list[str],
    time_col: str,
    value_agg,
    grain: str = "hour",
    fill_zero: bool = True,
    method: str = "ffill",
) -> DataFrame:
    """Library resampler behind ts07: dense per-key spine at any grain.

    ``value_agg`` is the aggregate expression applied per (keys, bucket)
    — pass exact-integer units for money (er03's lesson). Returns
    (keys..., bucket_start, is_gap, filled). ``method``:

    - ``"ffill"`` — carry the last observation forward; leading gaps
      fill with 0 when ``fill_zero`` (else stay NULL).
    - ``"interp"`` — linear interpolation between the surrounding
      observations (two windows over the same key partition: trailing
      last + leading first, weighted by row offset within the gap);
      leading gaps backfill from the next observation, trailing gaps
      carry the last one forward. Use for level-like series (sensor
      readings); counts/sums usually want ffill-or-zero.

    ``grain`` is any date_trunc field with a matching interval unit
    (minute/hour/day/week/month). Spine size = buckets-in-range ×
    |distinct keys| — bounded by the calendar and the key dim, never by
    event count.
    """
    bucket = F.date_trunc(grain, F.col(time_col))
    observed = df.groupBy(
        *key_cols, bucket.alias("bucket_start")
    ).agg(value_agg.alias("observed"))
    bounds = df.agg(
        F.date_trunc(grain, F.min(time_col)).alias("t0"),
        F.date_trunc(grain, F.max(time_col)).alias("t1"),
    )
    spine_times = bounds.select(
        F.explode(F.sequence("t0", "t1", F.expr(f"interval 1 {grain}"))).alias(
            "bucket_start"
        )
    )
    spine = df.select(*key_cols).distinct().crossJoin(spine_times)
    joined = spine.join(observed, [*key_cols, "bucket_start"], "left")
    base = Window.partitionBy(*key_cols).orderBy("bucket_start")
    back = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    if method == "ffill":
        filled = F.last("observed", ignorenulls=True).over(back)
        if fill_zero:
            filled = F.coalesce(filled, F.lit(0))
    elif method == "interp":
        fwd = base.rowsBetween(Window.currentRow, Window.unboundedFollowing)
        # Row offsets of the surrounding observations: count rows since
        # the bucket BEFORE this one that carried a value, and until the
        # next one that does. The spine is gap-free by construction, so
        # row offset == bucket offset and the weight is exact.
        rn = F.row_number().over(base)
        prev_v = F.last("observed", ignorenulls=True).over(back)
        prev_rn = F.last(
            F.when(F.col("observed").isNotNull(), rn), ignorenulls=True
        ).over(back)
        next_v = F.first("observed", ignorenulls=True).over(fwd)
        next_rn = F.first(
            F.when(F.col("observed").isNotNull(), rn), ignorenulls=True
        ).over(fwd)
        frac = (rn - prev_rn) / (next_rn - prev_rn)
        interp = prev_v + (next_v - prev_v) * frac
        filled = (
            F.when(F.col("observed").isNotNull(), F.col("observed"))
            .when(prev_v.isNull(), next_v)  # leading gap: backfill
            .when(next_v.isNull(), prev_v)  # trailing gap: ffill
            .otherwise(interp)
        )
    else:
        raise ValueError(f"unknown gap_fill method: {method!r}")
    return joined.select(
        *key_cols,
        "bucket_start",
        F.col("observed").isNull().alias("is_gap"),
        filled.alias("filled"),
    )


@query(
    "ts08_event_transitions",
    oracle="""
    WITH ordered AS (
        SELECT user_id, event_type,
               LAG(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events
    ), pairs AS (
        SELECT prev_type, event_type, CAST(COUNT(*) AS BIGINT) AS n
        FROM ordered WHERE prev_type IS NOT NULL
        GROUP BY prev_type, event_type
    )
    SELECT prev_type, event_type, n,
           ROUND(n * 1.0 / SUM(n) OVER (PARTITION BY prev_type), 6) AS p
    FROM pairs
    ORDER BY prev_type, event_type
    """,
)
def ts08_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral sequence analytics: the event-type transition matrix.

    The first-order Markov view of user journeys — for every observed
    (previous event, next event) pair, its count and the conditional
    probability P(next | prev). The n-gram/tp03 idea lifted from token
    streams to EVENT streams, and the building block behind journey
    mining, anomaly scoring (improbable transitions), and simulation.

    Scale shape: one lag window partitioned by user (each user's
    history sorts within its partition — parallel across the user
    dimension, the natural key of event data), then a hash aggregate to
    the (prev, next) grain, which is at most |event types|² rows; the
    probability normalization windows over THAT tiny relation. Ties at
    identical timestamps break on event_id so the sequence — and the
    matrix — is deterministic on both engines.
    """
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = events.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    )
    pairs = (
        ordered.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "event_type")
        .agg(F.count("*").alias("n"))
    )
    wp = Window.partitionBy("prev_type")
    return (
        pairs.select(
            "prev_type",
            "event_type",
            "n",
            F.round(F.col("n") / F.sum("n").over(wp), 6).alias("p"),
        )
        .orderBy("prev_type", "event_type")
    )


# --- ts09: seasonal-naive forecast backtest ---------------------------------

SEASONAL_LAG_HOURS = 24


@query(
    "ts09_seasonal_naive_backtest",
    oracle=f"""
    WITH hourly AS (
        SELECT event_type, DATE_TRUNC('hour', ts) AS h,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
        FROM events
        GROUP BY event_type, DATE_TRUNC('hour', ts)
    ), scored AS (
        SELECT a.event_type,
               ABS(a.cents - b.cents) AS ae,
               ABS(a.cents) AS denom
        FROM hourly a
        JOIN hourly b
          ON a.event_type = b.event_type
         AND b.h = a.h - INTERVAL {SEASONAL_LAG_HOURS} HOUR
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(SUM(ae) AS BIGINT) AS sae_cents,
           ROUND(SUM(ae) * 1.0 / SUM(denom), 6) AS wape
    FROM scored
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def ts09_seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest: predict each hour's metric with
    the value 24 hours earlier, score with WAPE.

    The forecasting leg the ts* family lacks — and the baseline every
    real forecasting deployment must beat before it earns its
    complexity (the "seasonal-naive beats your model" trap is the
    first thing a metrics platform checks). The backtest is a
    self-join of the hourly rollup on ``h − 24h`` per metric, so
    missing hours score nothing instead of silently comparing against
    the previous EXISTING hour (which is what a lag window would do —
    why this is a join, not a window). WAPE over MAPE: weighting by
    actual volume keeps near-zero hours from exploding the metric.

    Integer-exactness: the hourly metric is carried in CENTS
    (``round(value·100)`` per row, integer SUM — fold-order-free), so
    absolute errors and their sums are exact BIGINTs; the single float
    division happens once per metric at the end. Timestamps are NTZ —
    date_trunc and interval arithmetic are NTZ-safe (no session-TZ
    dependency).

    Scale shape: one data-sized aggregate to the (type × hour) grain
    with map-side partials; the backtest join and final rollup run on
    the hourly relation (8760 rows per metric-year at any corpus
    size). At 100 TB the hourly rollup IS the stored gold table
    (wh01's analog), and this query reads it instead of re-aggregating.

    Parity: beyond-reference (monitoring-family extension of
    cbddl/src/monitoring/pipeline_monitor.py's health checks).
    """
    events = load_table(spark, sf_dir, "events")
    hourly = (
        events.select(
            "event_type",
            F.date_trunc("hour", F.col("ts")).alias("h"),
            F.round(F.col("value") * 100).cast("long").alias("cents_row"),
        )
        .groupBy("event_type", "h")
        .agg(F.sum("cents_row").alias("cents"))
    )
    a = hourly.alias("a")
    b = hourly.select(
        F.col("event_type").alias("event_type_b"),
        (F.col("h") + F.expr(f"INTERVAL {SEASONAL_LAG_HOURS} HOURS")).alias("h_b"),
        F.col("cents").alias("cents_b"),
    )
    scored = a.join(
        b,
        on=[
            F.col("a.event_type") == F.col("event_type_b"),
            F.col("a.h") == F.col("h_b"),
        ],
    ).select(
        F.col("a.event_type").alias("event_type"),
        F.abs(F.col("a.cents") - F.col("cents_b")).alias("ae"),
        F.abs(F.col("a.cents")).alias("denom"),
    )
    return (
        scored.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.sum("ae").alias("sae_cents"),
            F.round(
                F.sum("ae") * F.lit(1.0) / F.sum("denom"), 6
            ).alias("wape"),
        )
        .select("event_type", "n_points", "sae_cents", "wape")
        .orderBy("event_type")
    )


# --- ab01: A/B experiment readout -------------------------------------------

# The z expression is built ONCE and spliced verbatim into both engines
# (F.expr and the oracle SQL) so the parse trees — and therefore the
# IEEE evaluation order — are identical. 1/nA + 1/nB is carried as
# (nA+nB)/(nA·nB) to keep every literal out of a DECIMAL context
# (SQL-literal 1.0 is DECIMAL in both engines — the ml06 lesson), and
# NULLIF guards the degenerate all-or-none-converted case with NULL
# rather than an ANSI divide-by-zero.
_AB_Z_EXPR = (
    "round((cast(conv_a as double) / cast(n_a as double)"
    " - cast(conv_b as double) / cast(n_b as double))"
    " / nullif(sqrt("
    "(cast(conv_a as double) + cast(conv_b as double))"
    " / (cast(n_a as double) + cast(n_b as double))"
    " * (1.0 - (cast(conv_a as double) + cast(conv_b as double))"
    "    / (cast(n_a as double) + cast(n_b as double)))"
    " * ((cast(n_a as double) + cast(n_b as double))"
    "    / (cast(n_a as double) * cast(n_b as double)))"
    "), 0), 4)"
)


@query(
    "ab01_experiment_readout",
    oracle=f"""
    WITH per_user AS (
        SELECT user_id,
               {_VARIANT_SQL} AS v,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
        FROM events
        GROUP BY user_id
    ), agg AS (
        SELECT CAST(COUNT(*) FILTER (v = 0) AS BIGINT) AS n_a,
               CAST(SUM(conv) FILTER (v = 0) AS BIGINT) AS conv_a,
               CAST(COUNT(*) FILTER (v = 1) AS BIGINT) AS n_b,
               CAST(SUM(conv) FILTER (v = 1) AS BIGINT) AS conv_b
        FROM per_user
    )
    SELECT n_a, conv_a, n_b, conv_b,
           ROUND(CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE), 6) AS rate_a,
           ROUND(CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE), 6) AS rate_b,
           {_AB_Z_EXPR} AS z_score
    FROM agg
    """,
)
def ab01_experiment_readout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: hash-deterministic variant assignment,
    per-variant conversion, pooled two-proportion z-test.

    The experimentation-analytics shape (assignment → exposure →
    conversion → hypothesis test) as one plan: variants come from the
    repo's standard md5 key-hash (tp01's splitter — stable across
    runs, engines, partitionings, unlike rand(seed)), conversion is a
    per-user MAX over the event stream (one data-sized aggregate with
    map-side partials), and the readout is a single conditional-count
    row. The pooled z statistic evaluates as ONE expression string
    spliced verbatim into both engines — identical parse tree ⇒
    bit-equal IEEE doubles — with 1/nA + 1/nB algebraically rewritten
    to (nA+nB)/(nA·nB) so no literal lands in a DECIMAL context, and
    NULLIF returning NULL (not an ANSI error) when every user or no
    user converts.

    Scale shape: the per-user aggregate is the only data-sized
    exchange; everything after moves one row. At 100 TB the per-user
    relation is the stored exposure table and this reads it.

    Parity: beyond-reference (monitoring/analytics-family extension —
    the reference's dashboard KPIs are the seed,
    cbddl/src/api/main.py's summary endpoints).
    """
    events = load_table(spark, sf_dir, "events")
    per_user = events.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("conv")
    ).select(md5_bucket(F.col("user_id"), 2).alias("v"), "conv")
    agg = per_user.agg(
        F.count(F.when(F.col("v") == 0, 1)).alias("n_a"),
        F.sum(F.when(F.col("v") == 0, F.col("conv"))).alias("conv_a"),
        F.count(F.when(F.col("v") == 1, 1)).alias("n_b"),
        F.sum(F.when(F.col("v") == 1, F.col("conv"))).alias("conv_b"),
    )
    return agg.select(
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        F.expr("round(cast(conv_a as double) / cast(n_a as double), 6)").alias(
            "rate_a"
        ),
        F.expr("round(cast(conv_b as double) / cast(n_b as double), 6)").alias(
            "rate_b"
        ),
        F.expr(_AB_Z_EXPR).alias("z_score"),
    )


# --- ts10: per-group OLS trend in exact integer arithmetic -------------------

# The trend window: one calendar year, so the day index x stays < 366
# and every sufficient statistic fits comfortably in int64 at test SFs.
TS10_FROM = "1995-01-01"
TS10_TO = "1996-01-01"


@query(
    "ts10_linear_trend",
    oracle=f"""
    WITH daily AS (
        SELECT n.n_name,
               CAST(DATE_DIFF('day', DATE '{TS10_FROM}',
                              CAST(o.o_orderdate AS DATE)) AS BIGINT) AS x,
               CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS y
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE o.o_orderdate >= TIMESTAMP '{TS10_FROM}'
          AND o.o_orderdate <  TIMESTAMP '{TS10_TO}'
        GROUP BY 1, 2
    ), stats AS (
        SELECT n_name,
               CAST(COUNT(*) AS BIGINT) AS n_days,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(x * y) AS BIGINT) AS sxy
        FROM daily
        GROUP BY n_name
    )
    SELECT n_name, n_days,
           n_days * sxy - sx * sy AS slope_num,
           n_days * sxx - sx * sx AS slope_den,
           ROUND(CAST(n_days * sxy - sx * sy AS DOUBLE)
                 / NULLIF(CAST(n_days * sxx - sx * sx AS DOUBLE), 0), 6)
               AS slope_cents_per_day
    FROM stats
    ORDER BY n_name
    """,
)
def ts10_linear_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation 1995 revenue trend: OLS slope over the daily grain,
    carried as an EXACT BIGINT rational (slope_num / slope_den).

    Distributed regression the way Spark wants it: the fit is not an
    iterative solver but ONE pass of sufficient statistics —
    Σx, Σy, Σx², Σxy per group — after which the closed-form slope

        slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)

    is a two-column projection. Because x is a day index (< 366 inside
    the fixed window) and y is integer cents, every statistic and both
    rational components are exact int64 — no float SUM fold-order trap
    (the repo-wide invariant), and the only float in the output is the
    final convenience ratio, computed from the SAME two integers with
    an identical expression tree on both engines (NULLIF guards the
    single-day degenerate group).

    Scale shape: two shuffles total — the fact→dim joins share the
    order/customer keys (nation is broadcast-sized), then one
    (nation, day)-keyed partial-aggregated rollup feeds a 25-row
    nation-keyed reduce. At 100 TB the int64 headroom argument changes:
    daily revenue cents × day index × n can approach 2^63, so the
    production variant runs the same plan in DECIMAL(38,0) or windows
    the trend per quarter — the plan shape is unchanged.

    Parity: beyond-reference (monitoring/analytics-family extension —
    trend gauges over the reference's dashboard KPIs,
    cbddl/src/monitoring/pipeline_monitor.py:1-150).
    """
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    daily = (
        orders.filter(
            (F.col("o_orderdate") >= F.lit(TS10_FROM).cast("timestamp"))
            & (F.col("o_orderdate") < F.lit(TS10_TO).cast("timestamp"))
        )
        .join(customer, orders["o_custkey"] == customer["c_custkey"])
        .join(F.broadcast(nation), customer["c_nationkey"] == nation["n_nationkey"])
        .select(
            "n_name",
            F.datediff(
                F.col("o_orderdate").cast("date"), F.lit(TS10_FROM).cast("date")
            )
            .cast("long")
            .alias("x"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .groupBy("n_name", "x")
        .agg(F.sum("cents").alias("y"))
    )
    stats = daily.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    num = F.col("n_days") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n_days") * F.col("sxx") - F.col("sx") * F.col("sx")
    return stats.select(
        "n_name",
        "n_days",
        num.alias("slope_num"),
        den.alias("slope_den"),
        F.expr(
            "round(cast(n_days * sxy - sx * sy as double)"
            " / nullif(cast(n_days * sxx - sx * sx as double), 0), 6)"
        ).alias("slope_cents_per_day"),
    ).orderBy("n_name")


# --- ts11: CUSUM changepoint detection ---------------------------------------


@query(
    "ts11_cusum_changepoint",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS y
        FROM events
        GROUP BY 1
    ), tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS s
        FROM daily
    ), walk AS (
        SELECT d.day,
               SUM(t.n * d.y - t.s) OVER (ORDER BY d.day) AS cusum
        FROM daily d CROSS JOIN tot t
    )
    SELECT STRFTIME(w.day, '%Y-%m-%d') AS cp_day,
           (SELECT n FROM tot) AS n_days,
           CAST(ABS(w.cusum) AS BIGINT) AS max_abs_cusum,
           w.cusum < 0 AS shift_up
    FROM walk w
    ORDER BY ABS(w.cusum) DESC, w.day ASC
    LIMIT 1
    """,
)
def ts11_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most likely changepoint of the daily-revenue series by the CUSUM
    statistic, in exact integer arithmetic.

    Page's cumulative-sum recipe scaled to stay in int64: the usual
    walk Σ(y_i − ȳ) needs the float mean, so both sides carry it
    multiplied through by n —

        C_k = Σ_{i ≤ k} (n·y_i − S),   S = Σy

    which is the same argmax (positive scaling) with every term an
    exact BIGINT (y in cents). The argmax day splits the series at its
    largest level shift; ``shift_up`` reads the sign (a negative
    trough means the left segment sat below the mean, i.e. the series
    stepped UP after cp_day). Total tie order (|C| DESC, day ASC)
    keeps the answer unique on flat stretches.

    Scale shape: the data-sized work is one (day)-keyed partial-
    aggregated rollup; the CUSUM window runs on the BOUNDED daily
    relation (≤ 366 rows per audited year — the documented
    post-aggregation global-window posture), with the 1-row (n, S)
    aggregate broadcast into it. At 100 TB nothing changes: days stay
    days.

    Parity: beyond-reference (monitoring-family extension — the step-
    change detector behind the reference's threshold alerts,
    cbddl/src/monitoring/pipeline_monitor.py:60-90).
    """
    events = load_table(spark, sf_dir, "events")
    daily = (
        events.select(
            F.col("ts").cast("date").alias("day"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        .groupBy("day")
        .agg(F.sum("cents").alias("y"))
    )
    tot = daily.agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("s")
    )
    walk = daily.crossJoin(F.broadcast(tot)).select(
        "day",
        "n",
        F.sum(F.col("n") * F.col("y") - F.col("s"))
        .over(Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0))
        .alias("cusum"),
    )
    return (
        walk.select(
            F.date_format(F.col("day"), "yyyy-MM-dd").alias("cp_day"),
            F.col("n").alias("n_days"),
            F.abs(F.col("cusum")).alias("max_abs_cusum"),
            (F.col("cusum") < 0).alias("shift_up"),
        )
        .orderBy(F.desc("max_abs_cusum"), F.asc("cp_day"))
        .limit(1)
    )


# --- ts12: weekday seasonality profile ----------------------------------------


@query(
    "ts12_weekday_seasonality",
    oracle="""
    WITH base AS (
        SELECT event_type,
               CAST(ISODOW(ts) - 1 AS BIGINT) AS weekday,
               CAST(ROUND(value * 100) AS BIGINT) AS cents
        FROM events
    ), wd AS (
        SELECT event_type, weekday,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(cents) AS BIGINT) AS sum_cents
        FROM base GROUP BY 1, 2
    ), tot AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_tot,
               CAST(SUM(cents) AS BIGINT) AS sum_tot
        FROM base GROUP BY 1
    )
    SELECT w.event_type, w.weekday, w.n_events, w.sum_cents,
           ((w.sum_cents * 1000000) // w.n_events * 1000)
               // ((t.sum_tot * 1000000) // t.n_tot) AS index_milli
    FROM wd w JOIN tot t ON w.event_type = t.event_type
    ORDER BY w.event_type, w.weekday
    """,
)
def ts12_weekday_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday seasonality index per event type: each weekday's mean
    value relative to the type's overall mean, in exact integer millis
    (1000 = a perfectly flat week).

    The seasonal-profile leg between ts09's seasonal-naive forecast
    (which ASSUMES the cycle) and ts11's changepoint (which looks for
    breaks): this MEASURES the cycle. Means are carried as nested
    integer divisions — (sum·10^6) div n at micro precision, then the
    ratio at milli precision — deterministic and replayable on both
    engines (everything nonnegative, so div/​// agree; a single
    cross-multiplied ratio would overflow int64 at large SF, the
    nested form never exceeds sum·10^6). Weekday numbering is pinned
    to ISO-Monday=0 explicitly: Spark's ``weekday()`` and DuckDB's
    ``ISODOW − 1`` — the dayofweek() functions disagree across engines
    (1=Sunday vs 0=Sunday, the documented cross-engine trap).

    Scale shape: two map-side-combined aggregates over the same scan
    (Spark reuses the exchange for the coarser one) and a join on the
    event-type key — at most |types| × 7 rows move after the partials.

    Parity: beyond-reference (monitoring/ts-family extension; seed
    cbddl/src/monitoring/pipeline_monitor.py's gauge trends).
    """
    events = load_table(spark, sf_dir, "events")
    base = events.select(
        "event_type",
        F.weekday("ts").cast("long").alias("weekday"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    wd = base.groupBy("event_type", "weekday").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("cents").alias("sum_cents"),
    )
    tot = base.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_tot"),
        F.sum("cents").alias("sum_tot"),
    )
    return (
        wd.join(tot, "event_type")
        .select(
            "event_type",
            "weekday",
            "n_events",
            "sum_cents",
            F.expr(
                "(sum_cents * 1000000) div n_events * 1000"
                " div ((sum_tot * 1000000) div n_tot)"
            ).alias("index_milli"),
        )
        .orderBy("event_type", "weekday")
    )


# --- ts13: seasonally-adjusted anomaly days ----------------------------------

TS13_FENCE = 3  # flag days beyond fence × MAD from the adjusted median


@query(
    "ts13_seasonal_anomaly",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(ISODOW(ts) - 1 AS BIGINT) AS weekday,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
        FROM events
        GROUP BY 1, 2
    ), wd_med AS (
        SELECT weekday, cents AS wdm FROM (
            SELECT weekday, cents,
                   ROW_NUMBER() OVER (PARTITION BY weekday ORDER BY cents) AS rn,
                   COUNT(*) OVER (PARTITION BY weekday) AS n
            FROM daily
        ) WHERE rn = (n + 1) // 2
    ), all_med AS (
        SELECT cents AS am FROM (
            SELECT cents, ROW_NUMBER() OVER (ORDER BY cents) AS rn,
                   COUNT(*) OVER () AS n
            FROM daily
        ) WHERE rn = (n + 1) // 2
    ), wd AS (
        SELECT weekday,
               wdm * 1000 // (SELECT am FROM all_med) AS index_milli
        FROM wd_med
    ), adjusted AS (
        SELECT d.day, d.cents,
               CAST(d.cents * 1000 // NULLIF(w.index_milli, 0) AS BIGINT)
                   AS adj
        FROM daily d JOIN wd w ON d.weekday = w.weekday
    ), med AS (
        SELECT adj AS m FROM (
            SELECT adj, ROW_NUMBER() OVER (ORDER BY adj) AS rn,
                   COUNT(*) OVER () AS n
            FROM adjusted
        ) WHERE rn = (n + 1) // 2
    ), mad AS (
        SELECT dev AS md FROM (
            SELECT ABS(a.adj - (SELECT m FROM med)) AS dev,
                   ROW_NUMBER() OVER (ORDER BY ABS(a.adj - (SELECT m FROM med)))
                       AS rn,
                   COUNT(*) OVER () AS n
            FROM adjusted a
        ) WHERE rn = (n + 1) // 2
    )
    SELECT STRFTIME(a.day, '%Y-%m-%d') AS day, a.cents, a.adj,
           CAST(ABS(a.adj - (SELECT m FROM med)) AS BIGINT) AS deviation
    FROM adjusted a
    WHERE ABS(a.adj - (SELECT m FROM med))
          > {TS13_FENCE} * GREATEST((SELECT md FROM mad), 1)
    ORDER BY day
    """,
)
def ts13_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anomalous revenue days AFTER removing the weekly cycle: flag
    days whose seasonally-adjusted total sits beyond 3 robust
    deviations from the adjusted median.

    The composition the ts/dq families were built for: a weekday
    index de-seasonalizes (a quiet Sunday is NOT an anomaly; the same
    total on a peak Friday is), and dq10's robust location/scale
    replaces mean/stddev. ROBUSTNESS IS APPLIED TWICE, deliberately:
    the index itself is built from per-weekday LOWER MEDIANS, not
    means — a mean-based index lets one broken Monday inflate
    Monday's seasonal level 3×, over-deflating every normal Monday
    into a false positive (the pytest plants exactly this); and the
    MAD fence carries a GREATEST(·,1) floor so a noise-free corpus
    (MAD = 0) doesn't flag every day with any deviation. Everything
    stays integer — all medians are lower-median order statistics
    picked by row_number over the ≤ 366-row daily relation — and
    NULLIF guards a zero index.

    Scale shape: one data-sized (day, weekday) rollup; every window
    after runs on the bounded daily relation (the documented
    post-aggregation posture); the median/MAD scalars broadcast back
    as 1-row subqueries.

    Parity: beyond-reference (monitoring composition; the reference's
    fixed-threshold alerts are the seed,
    cbddl/src/monitoring/pipeline_monitor.py:60-90).
    """
    events = load_table(spark, sf_dir, "events")
    daily = (
        events.select(
            F.col("ts").cast("date").alias("day"),
            F.weekday("ts").cast("long").alias("weekday"),
            F.round(F.col("value") * 100).cast("long").alias("c"),
        )
        .groupBy("day", "weekday")
        .agg(F.sum("c").alias("cents"))
    )
    w_wd = Window.partitionBy("weekday").orderBy("cents")
    wd_med = (
        daily.select(
            "weekday",
            "cents",
            F.row_number().over(w_wd).alias("rn"),
            F.count(F.lit(1)).over(Window.partitionBy("weekday")).alias("n"),
        )
        .filter(F.expr("rn = (n + 1) div 2"))
        .select("weekday", F.col("cents").alias("wdm"))
    )
    all_med = (
        daily.select(
            "cents",
            F.row_number().over(Window.orderBy("cents")).alias("rn"),
            F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
        )
        .filter(F.expr("rn = (n + 1) div 2"))
        .select(F.col("cents").alias("am"))
    )
    wd = wd_med.crossJoin(F.broadcast(all_med)).select(
        "weekday", F.expr("wdm * 1000 div am").alias("index_milli")
    )
    adjusted = daily.join(F.broadcast(wd), "weekday").select(
        "day",
        "cents",
        F.expr(f"cents * 1000 div nullif(index_milli, 0)").alias("adj"),
    )
    w = Window.orderBy("adj")
    med = (
        adjusted.select(
            "adj",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
        )
        .filter(F.expr("rn = (n + 1) div 2"))
        .select(F.col("adj").alias("m"))
    )
    dev = adjusted.crossJoin(F.broadcast(med)).select(
        "day", "cents", "adj", F.abs(F.col("adj") - F.col("m")).alias("deviation")
    )
    wd2 = Window.orderBy("deviation")
    mad = (
        dev.select(
            "deviation",
            F.row_number().over(wd2).alias("rn"),
            F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
        )
        .filter(F.expr("rn = (n + 1) div 2"))
        .select(F.col("deviation").alias("md"))
    )
    return (
        dev.crossJoin(F.broadcast(mad))
        .filter(F.col("deviation") > TS13_FENCE * F.greatest(F.col("md"), F.lit(1)))
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "cents",
            "adj",
            "deviation",
        )
        .orderBy("day")
    )


# --- mon02: multi-window SLO burn-rate readout -------------------------------

# Demo SLO for the events fixture (error events are ~20% of traffic by
# construction): slow-burn ticket when the error ratio exceeds 25%
# (4·err > tot), fast-burn page when it exceeds 30% (10·err > 3·tot) —
# in BOTH the short (the hour itself) and long (BURN_LONG_H trailing
# hours) windows, the standard multi-window rule that suppresses
# single-spike false pages. Production tunes these to its SLO budget;
# the integer cross-multiplied comparisons are the point (no float
# ratio ever computed).
BURN_LONG_H = 6


@query(
    "mon02_slo_burn_rate",
    oracle=f"""
    WITH h AS (
        SELECT DATE_DIFF('day', DATE '1970-01-01', CAST(ts AS DATE)) * 24
                   + EXTRACT(HOUR FROM ts) AS hour_idx,
               STRFTIME(MIN(ts), '%Y%m%d%H') AS hour_key,
               COUNT(*) AS tot_1h,
               COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS err_1h
        FROM events GROUP BY 1
    ), w AS (
        SELECT hour_key, err_1h, tot_1h,
               CAST(SUM(err_1h) OVER (ORDER BY hour_idx
                   RANGE BETWEEN {BURN_LONG_H - 1} PRECEDING AND CURRENT ROW) AS BIGINT) AS err_6h,
               CAST(SUM(tot_1h) OVER (ORDER BY hour_idx
                   RANGE BETWEEN {BURN_LONG_H - 1} PRECEDING AND CURRENT ROW) AS BIGINT) AS tot_6h
        FROM h
    )
    SELECT hour_key, err_1h, tot_1h, err_6h, tot_6h,
           (10 * err_1h > 3 * tot_1h AND 10 * err_6h > 3 * tot_6h) AS fast_burn_page,
           (4 * err_1h > tot_1h AND 4 * err_6h > tot_6h) AS slow_burn_ticket
    FROM w ORDER BY hour_key
    """,
)
def mon02_slo_burn_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-window SLO burn-rate readout over the event stream — the
    SRE alerting rule (fast page = high burn in BOTH a short and a long
    trailing window; slow ticket at a lower threshold) as one query.

    Extends the reference's fixed-threshold alert table
    (cbddl/src/monitoring/pipeline_monitor.py:62-75, error-rate alert
    at :152-207) with the budget-relative, spike-suppressing form.

    Scale shape: events collapse to the HOURLY grain map-side (one
    hash aggregate — the window input is ≤ 8,760 rows/year no matter
    the event volume), then two trailing RANGE frames over hour_idx
    (gap-correct: missing hours shrink the frame rather than stretching
    it) and integer cross-multiplied threshold tests — no float ratio,
    so both engines decide every flag identically. The unpartitioned
    window runs post-aggregation, the documented W4/W5 posture; at
    multi-year scale partition the window by metric/service key.
    """
    events = load_table(spark, sf_dir, "events")
    hourly = events.groupBy(
        (F.unix_date(F.col("ts").cast("date")).cast("long") * 24 + F.hour("ts")).alias(
            "hour_idx"
        )
    ).agg(
        F.date_format(F.min("ts"), "yyyyMMddHH").alias("hour_key"),
        F.count("*").alias("tot_1h"),
        F.count(F.when(F.col("event_type") == "error", 1)).alias("err_1h"),
    )
    w = Window.orderBy("hour_idx").rangeBetween(-(BURN_LONG_H - 1), 0)
    burn = hourly.select(
        "hour_key",
        "err_1h",
        "tot_1h",
        F.sum("err_1h").over(w).alias("err_6h"),
        F.sum("tot_1h").over(w).alias("tot_6h"),
    )
    fast = (10 * F.col("err_1h") > 3 * F.col("tot_1h")) & (
        10 * F.col("err_6h") > 3 * F.col("tot_6h")
    )
    slow = (4 * F.col("err_1h") > F.col("tot_1h")) & (
        4 * F.col("err_6h") > F.col("tot_6h")
    )
    return burn.select(
        "hour_key",
        "err_1h",
        "tot_1h",
        "err_6h",
        "tot_6h",
        fast.alias("fast_burn_page"),
        slow.alias("slow_burn_ticket"),
    ).orderBy("hour_key")


# --- ab02: sample-ratio mismatch check ----------------------------------------


@query(
    "ab02_srm_check",
    oracle=f"""
    WITH per_user AS (
        SELECT DISTINCT user_id,
               {_VARIANT_SQL} AS v
        FROM events
    )
    SELECT CAST(COUNT(*) FILTER (v = 0) AS BIGINT) AS n_a,
           CAST(COUNT(*) FILTER (v = 1) AS BIGINT) AS n_b,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(*) FILTER (v = 0) - COUNT(*) FILTER (v = 1) AS BIGINT) AS delta,
           ((COUNT(*) FILTER (v = 0) - COUNT(*) FILTER (v = 1))
            * (COUNT(*) FILTER (v = 0) - COUNT(*) FILTER (v = 1)) > 16 * COUNT(*))
               AS srm_suspect
    FROM per_user
    """,
)
def ab02_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio mismatch guard for ab01's experiment: are the two
    variants' exposure counts consistent with the intended 50/50
    assignment? A biased split silently invalidates any readout, so
    SRM runs BEFORE the z-test is believed.

    Under H0 (fair split) n_a − n_b has standard deviation √n, so the
    4σ alarm is the integer-exact test ``delta² > 16·n`` — no float
    probability, both engines decide identically (the repo's
    cross-multiplication discipline applied to a normal bound). The
    assignment replays ab01's md5 user hash, one distinct-user pass +
    one conditional-count row. The md5 splitter is provably fair here
    (pytest pins not-suspect on this corpus); flipping the threshold
    to 0 demonstrates detection.

    Parity: beyond-reference (experimentation hygiene on the ab01
    extension; the reference has no experiment layer).
    """
    events = load_table(spark, sf_dir, "events")
    per_user = events.select("user_id").distinct().select(
        md5_bucket(F.col("user_id"), 2).alias("v")
    )
    agg = per_user.agg(
        F.count(F.when(F.col("v") == 0, 1)).alias("n_a"),
        F.count(F.when(F.col("v") == 1, 1)).alias("n_b"),
        F.count("*").alias("n"),
    )
    delta = F.col("n_a") - F.col("n_b")
    return agg.select(
        "n_a",
        "n_b",
        "n",
        delta.alias("delta"),
        (delta * delta > 16 * F.col("n")).alias("srm_suspect"),
    )


# --- mon03: per-source freshness lag -------------------------------------------

FRESHNESS_STALE_MIN = 120  # stale when a source lags the corpus head by 2h+


@query(
    "mon03_freshness_lag",
    oracle=f"""
    WITH head AS (SELECT MAX(ts) AS head_ts FROM events),
    per_src AS (
        SELECT event_type, MAX(ts) AS last_ts,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events GROUP BY event_type
    )
    SELECT p.event_type, STRFTIME(p.last_ts, '%Y%m%d%H%M%S') AS last_seen,
           p.n_events,
           DATE_DIFF('minute', p.last_ts, h.head_ts) AS lag_minutes,
           DATE_DIFF('minute', p.last_ts, h.head_ts) >= {FRESHNESS_STALE_MIN}
               AS is_stale
    FROM per_src p, head h
    ORDER BY p.event_type
    """,
)
def mon03_freshness_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source freshness: each event type's last-seen timestamp, its
    lag in whole minutes behind the corpus head, and a stale flag — the
    per-feed form of the reference's data-freshness gauge
    (cbddl/src/monitoring/pipeline_monitor.py's freshness metric covers
    only the table globally; a wedged single feed hides inside a fresh
    global MAX, which is exactly the failure this catches).

    Lag is an integer minute difference computed as truncated epoch
    minutes on both engines (Spark unix_date·1440 + hour·60 + minute ≡
    DuckDB DATE_DIFF('minute'): both count whole-minute boundaries, so
    the stale comparison is integer-exact). One grouped aggregate +
    one 1-row head broadcast; at 100 TB the scan reads the ts column
    only, and on a date-partitioned lake the head/last-seen resolve
    from partition maxima without a full scan.
    """
    events = load_table(spark, sf_dir, "events")

    def epoch_minutes(col: str):
        return (
            F.unix_date(F.col(col).cast("date")).cast("long") * 1440
            + F.hour(col) * 60
            + F.minute(col)
        )

    head = events.agg(F.max("ts").alias("head_ts"))
    per_src = events.groupBy("event_type").agg(
        F.max("ts").alias("last_ts"), F.count("*").alias("n_events")
    )
    joined = per_src.crossJoin(F.broadcast(head))
    lag = epoch_minutes("head_ts") - epoch_minutes("last_ts")
    return joined.select(
        "event_type",
        F.date_format("last_ts", "yyyyMMddHHmmss").alias("last_seen"),
        "n_events",
        lag.alias("lag_minutes"),
        (lag >= FRESHNESS_STALE_MIN).alias("is_stale"),
    ).orderBy("event_type")


# --- ts14: fixed-point EWMA baseline anomaly ------------------------------------

# Truncated exponential weights (halving per day) for lags 1..7 — the
# EWMA recurrence unrolled to a bounded window so the whole baseline is
# INTEGER arithmetic (the repo's no-floats-in-the-recurrence rule: a
# true recursive EWMA accumulates float rounding that diverges across
# engines; the 2^-k tail beyond 7 days contributes < 1%).
EWMA_WEIGHTS = (64, 32, 16, 8, 4, 2, 1)  # lag 1 .. lag 7


@query(
    "ts14_ewma_anomaly",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        FROM orders GROUP BY 1
    ), lagged AS (
        SELECT day, cents,
               {', '.join(f"LAG(cents, {k + 1}) OVER (ORDER BY day) AS l{k + 1}" for k in range(7))}
        FROM daily
    ), scored AS (
        SELECT day, cents,
               {' + '.join(f"COALESCE(l{k + 1}, 0) * {w}" for k, w in enumerate(EWMA_WEIGHTS))} AS num,
               {' + '.join(f"CASE WHEN l{k + 1} IS NOT NULL THEN {w} ELSE 0 END" for k, w in enumerate(EWMA_WEIGHTS))} AS den
        FROM lagged
    )
    SELECT STRFTIME(day, '%Y-%m-%d') AS day, cents,
           CAST(num // den AS BIGINT) AS ewma_cents,
           (10 * cents * den > 13 * num) AS is_spike,
           (10 * cents * den < 7 * num) AS is_dip
    FROM scored WHERE den > 0
    ORDER BY day
    """,
)
def ts14_ewma_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA-baseline anomaly flags over the daily revenue series: each
    day compared against an exponentially weighted average of its prior
    week (spike = +30% over baseline, dip = −30%).

    The smoothing-baseline member of the ts* family (ts13 is its
    seasonal-median sibling; ts11 finds the single changepoint; this
    flags per-day deviations against a recency-weighted level). The
    recurrence is unrolled to SEVEN LAG columns with halving integer
    weights — no recursive float state, so both engines produce
    bit-identical baselines, and partial history (series head) just
    shrinks the weight denominator instead of poisoning the average.
    Thresholds are integer cross-multiplications (10·cents·den vs
    13·num); the first day (no history) is excluded by den > 0.

    Scale shape: one map-side daily rollup, then one ordered window
    pass producing all seven lags in a single WindowExec (Spark fuses
    same-spec window functions) — the documented post-aggregation
    daily-grain posture; partition by series key for multi-metric use.
    """
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents")
    )
    w = Window.orderBy("day")
    lagged = daily.select(
        "day",
        "cents",
        *[F.lag("cents", k + 1).over(w).alias(f"l{k + 1}") for k in range(7)],
    )
    num = None
    den = None
    for k, wt in enumerate(EWMA_WEIGHTS):
        col = F.col(f"l{k + 1}")
        n_term = F.coalesce(col, F.lit(0)) * wt
        d_term = F.when(col.isNotNull(), F.lit(wt)).otherwise(F.lit(0))
        num = n_term if num is None else num + n_term
        den = d_term if den is None else den + d_term
    scored = lagged.select("day", "cents", num.alias("num"), den.alias("den"))
    return (
        scored.filter(F.col("den") > 0)
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "cents",
            F.expr("num div den").alias("ewma_cents"),
            (10 * F.col("cents") * F.col("den") > 13 * F.col("num")).alias("is_spike"),
            (10 * F.col("cents") * F.col("den") < 7 * F.col("num")).alias("is_dip"),
        )
        .orderBy("day")
    )


# --- ab03: CUPED variance-reduced readout --------------------------------------

# Spliced verbatim into BOTH engines (the ab01 z-expr discipline): the
# sufficient statistics (n, sx, sy, sxy, sxx) are exact BIGINTs, every
# factor is cast to DOUBLE *before* any product (n·Σxy in int64 would
# overflow around the 100× probe scale), the parse trees are identical,
# and the single float is ROUND()ed. NULLIF guards a zero-variance
# covariate (theta undefined → NULL, not an ANSI divide error).
_CUPED_THETA_EXPR = (
    "round((cast(n as double) * cast(sxy as double)"
    " - cast(sx as double) * cast(sy as double))"
    " / nullif(cast(n as double) * cast(sxx as double)"
    " - cast(sx as double) * cast(sx as double), 0), 6)"
)

_CUPED_ADJ_EXPR = (
    "round(cast(sy_v as double) / cast(n_v as double)"
    " - theta * (cast(sx_v as double) / cast(n_v as double)"
    " - cast(sx as double) / cast(n as double)), 4)"
)


@query(
    "ab03_cuped_readout",
    oracle=f"""
    WITH per_user AS (
        SELECT user_id,
               {_VARIANT_SQL} AS v,
               CAST(COUNT(*) FILTER (event_type = 'view') AS BIGINT) AS x,
               CAST(COALESCE(SUM(CAST(ROUND(value * 100) AS BIGINT))
                    FILTER (event_type = 'purchase'), 0) AS BIGINT) AS y
        FROM events
        GROUP BY user_id
    ), pooled AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * y) AS BIGINT) AS sxy,
               CAST(SUM(x * x) AS BIGINT) AS sxx
        FROM per_user
    ), theta_row AS (
        SELECT *, {_CUPED_THETA_EXPR} AS theta FROM pooled
    ), arm AS (
        SELECT v AS variant,
               CAST(COUNT(*) AS BIGINT) AS n_v,
               CAST(SUM(x) AS BIGINT) AS sx_v,
               CAST(SUM(y) AS BIGINT) AS sy_v
        FROM per_user GROUP BY v
    )
    SELECT a.variant, a.n_v AS n_users, a.sx_v AS sum_views,
           a.sy_v AS sum_cents,
           ROUND(CAST(a.sy_v AS DOUBLE) / CAST(a.n_v AS DOUBLE), 4) AS mean_cents,
           t.theta,
           (SELECT {_CUPED_ADJ_EXPR} FROM (SELECT a.sy_v AS sy_v, a.n_v AS n_v,
                   a.sx_v AS sx_v, t.sx AS sx, t.n AS n, t.theta AS theta))
               AS adj_mean_cents
    FROM arm a, theta_row t
    ORDER BY a.variant
    """,
)
def ab03_cuped_readout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced experiment readout (Deng et al., WSDM'13):
    per-variant purchase revenue adjusted by a pre-exposure covariate
    (the user's view count), the standard trick that shrinks A/B
    confidence intervals 30-50% without touching the treatment.

    theta = cov(x, y)/var(x) over ALL users (pooled, the textbook
    estimator — per-arm thetas would bias the contrast); the adjusted
    arm mean is mean(y) − theta·(mean(x) − mean(x_pooled)). Everything
    up to theta is exact BIGINT sufficient statistics in ONE pass over
    the per-user relation; theta and the adjusted means are single
    ROUND()ed floats built from identical spliced parse trees on both
    engines (ab01's z-score discipline). The covariate uses the same
    corpus (no pre-period column exists in this schema); in production
    x would be the metric over the pre-assignment window, which only
    changes the filter.

    Scale shape: one user-keyed aggregate (the only data-sized
    shuffle), then a 2-row arm relation × a 1-row broadcast stats row.

    Parity: beyond-reference (extends ab01/ab02's experiment layer).
    """
    events = load_table(spark, sf_dir, "events")
    per_user = events.groupBy("user_id").agg(
        F.count(F.when(F.col("event_type") == "view", 1)).alias("x"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.round(F.col("value") * 100).cast("long"),
                )
            ),
            F.lit(0),
        ).alias("y"),
    ).select(md5_bucket(F.col("user_id"), 2).alias("v"), "x", "y")
    pooled = per_user.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    ).withColumn("theta", F.expr(_CUPED_THETA_EXPR))
    arm = per_user.groupBy(F.col("v").alias("variant")).agg(
        F.count("*").alias("n_v"),
        F.sum("x").alias("sx_v"),
        F.sum("y").alias("sy_v"),
    )
    return (
        arm.crossJoin(F.broadcast(pooled))
        .select(
            "variant",
            F.col("n_v").alias("n_users"),
            F.col("sx_v").alias("sum_views"),
            F.col("sy_v").alias("sum_cents"),
            F.round(F.col("sy_v").cast("double") / F.col("n_v").cast("double"), 4).alias(
                "mean_cents"
            ),
            "theta",
            F.expr(_CUPED_ADJ_EXPR).alias("adj_mean_cents"),
        )
        .orderBy("variant")
    )


# --- ts15: seasonal-strength decomposition -------------------------------------


@query(
    "ts15_seasonal_strength",
    oracle="""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        FROM orders GROUP BY 1
    ), gm AS (
        SELECT CAST(SUM(cents) // COUNT(*) AS BIGINT) AS grand_mean FROM daily
    ), pm AS (
        SELECT day, CAST((cents * 1000) // g.grand_mean AS BIGINT) AS cents_pm
        FROM daily, gm g
    ), win AS (
        SELECT day, cents_pm,
               SUM(cents_pm) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS w_sum,
               COUNT(*) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS w_n
        FROM pm
    ), detr AS (
        SELECT day, cents_pm - CAST(w_sum // 7 AS BIGINT) AS detr_pm,
               ISODOW(day) - 1 AS wd
        FROM win WHERE w_n = 7
    ), seas AS (
        SELECT wd, CAST(SUM(detr_pm) // COUNT(*) AS BIGINT) AS s_pm
        FROM detr GROUP BY wd
    ), resid AS (
        SELECT d.detr_pm, d.detr_pm - s.s_pm AS resid_pm
        FROM detr d JOIN seas s USING (wd)
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(detr_pm * detr_pm) AS BIGINT) AS ssd,
           CAST(SUM(resid_pm * resid_pm) AS BIGINT) AS ssr,
           CAST(GREATEST(0, 1000 - (1000 * SUM(resid_pm * resid_pm))
                // NULLIF(SUM(detr_pm * detr_pm), 0)) AS BIGINT) AS strength_milli,
           (1000 * SUM(resid_pm * resid_pm)
                < 700 * NULLIF(SUM(detr_pm * detr_pm), 0)) AS is_seasonal
    FROM resid
    """,
)
def ts15_seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly seasonal-strength of the daily revenue series (Hyndman &
    Athanasopoulos FPP3 §4.4: strength = 1 − Var(remainder)/Var(detrended)
    under a classical decomposition) — the one-number answer to "is a
    weekday profile (ts12) even worth modeling here?", sitting upstream
    of ts09's seasonal-naive forecast and ts13's seasonal anomaly fence.

    Decomposition in EXACT integer arithmetic end to end: the series is
    first normalized to per-mille of its grand mean (bounding every
    later square regardless of corpus scale — raw cents² overflows
    int64 around the 100× probe), the trend is a full centered 7-day
    moving sum floor-divided by 7 (partial windows at the series edges
    are EXCLUDED, not padded — padding biases the seasonal means), the
    weekday means are floor-divided sums, and the strength ratio is an
    integer cross-multiplication (1000·SSR vs SSD), GREATEST-floored at
    0 like the published statistic. Weekday numbering is the ts12
    contract (Spark weekday() ≡ DuckDB ISODOW−1 — dayofweek() disagrees
    across engines).

    Scale shape: one map-side daily rollup (the only data-sized work),
    then ≤366-row windows/joins — the documented post-aggregation
    daily-grain posture (per series key in multi-metric use).
    """
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents")
    )
    gm = daily.agg(F.expr("sum(cents) div count(*)").alias("grand_mean"))
    pm = daily.crossJoin(F.broadcast(gm)).select(
        "day", F.expr("(cents * 1000) div grand_mean").alias("cents_pm")
    )
    w = Window.orderBy("day").rowsBetween(-3, 3)
    win = pm.select(
        "day",
        "cents_pm",
        F.sum("cents_pm").over(w).alias("w_sum"),
        F.count("*").over(w).alias("w_n"),
    )
    detr = win.filter(F.col("w_n") == 7).select(
        "day",
        (F.col("cents_pm") - F.expr("w_sum div 7")).alias("detr_pm"),
        F.weekday("day").alias("wd"),
    )
    seas = detr.groupBy("wd").agg(F.expr("sum(detr_pm) div count(*)").alias("s_pm"))
    resid = detr.join(F.broadcast(seas), "wd").select(
        "detr_pm", (F.col("detr_pm") - F.col("s_pm")).alias("resid_pm")
    )
    ssd = F.sum(F.col("detr_pm") * F.col("detr_pm"))
    ssr = F.sum(F.col("resid_pm") * F.col("resid_pm"))
    return resid.agg(
        F.count("*").alias("n_days"),
        ssd.alias("ssd"),
        ssr.alias("ssr"),
        F.greatest(F.lit(0), F.lit(1000) - F.expr(
            "(1000 * sum(resid_pm * resid_pm)) div nullif(sum(detr_pm * detr_pm), 0)"
        )).alias("strength_milli"),
        (F.lit(1000) * ssr < F.lit(700) * F.nullif(ssd, F.lit(0))).alias("is_seasonal"),
    )


# --- ts16: peak concurrency (sweep-line) ----------------------------------------

PRESENCE_MINUTES = 30  # each event opens a 30-min presence interval


@query(
    "ts16_peak_concurrency",
    oracle=f"""
    WITH iv AS (
        SELECT CAST(ts AS DATE) AS day, ts AS t_start,
               LEAST(ts + INTERVAL {PRESENCE_MINUTES} MINUTE,
                     CAST(CAST(ts AS DATE) + 1 AS TIMESTAMP)) AS t_end
        FROM events
    ), pts AS (
        SELECT day, t_start AS t, 1 AS delta FROM iv
        UNION ALL
        SELECT day, t_end AS t, -1 AS delta FROM iv
    ), run AS (
        SELECT day,
               SUM(delta) OVER (PARTITION BY day ORDER BY t, delta DESC
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS running
        FROM pts
    )
    SELECT STRFTIME(day, '%Y-%m-%d') AS day,
           CAST(MAX(running) AS BIGINT) AS peak_concurrency
    FROM run GROUP BY day ORDER BY day
    """,
)
def ts16_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent presence per day via the sweep-line (+1/−1)
    counting pattern: every event opens a 30-minute presence interval,
    each interval emits a +1 point at its start and a −1 at its end,
    and the day's peak is the max of the running sum over the
    time-ordered points — the capacity-planning primitive (max
    concurrent sessions/connections/streams) that a naive
    interval×interval self-join computes quadratically.

    Intervals are truncated at midnight and both points carry the
    START's day, so each day's sweep is self-contained (no unmatched
    −1 smuggled in from yesterday) and the running sum partitions
    cleanly by day. At equal timestamps starts sort before ends
    (delta DESC) — touching intervals count as concurrent, and the
    per-day MAX is permutation-invariant within equal (t, delta) so
    the result is a total function of the data. All integer.

    Scale shape: one projection (2 points per event, map-side), one
    day-keyed window + rollup. A single day too large for one task
    splits by the standard two-pass refinement: chunk-local sweeps
    plus per-chunk prefix offsets (documented, not needed at bench SF).
    """
    events = load_table(spark, sf_dir, "events")
    iv = events.select(
        F.col("ts").cast("date").alias("day"),
        F.col("ts").alias("t_start"),
        F.least(
            F.col("ts") + F.expr(f"INTERVAL {PRESENCE_MINUTES} MINUTE"),
            F.date_add(F.col("ts").cast("date"), 1).cast("timestamp"),
        ).alias("t_end"),
    )
    pts = iv.select("day", F.col("t_start").alias("t"), F.lit(1).alias("delta")).unionAll(
        iv.select("day", F.col("t_end").alias("t"), F.lit(-1).alias("delta"))
    )
    w = (
        Window.partitionBy("day")
        .orderBy(F.col("t").asc(), F.col("delta").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = pts.select("day", F.sum("delta").over(w).alias("running"))
    return (
        run.groupBy("day")
        .agg(F.max("running").alias("peak_concurrency"))
        .select(F.date_format("day", "yyyy-MM-dd").alias("day"), "peak_concurrency")
        .orderBy("day")
    )


# --- ts17: autocorrelation function (integer ACF) --------------------------------

ACF_MAX_LAG = 7


@query(
    "ts17_autocorrelation",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        FROM orders GROUP BY 1
    ), gm AS (
        SELECT CAST(SUM(cents) // COUNT(*) AS BIGINT) AS grand_mean,
               CAST(COUNT(*) AS BIGINT) AS n FROM daily
    ), pm AS (
        SELECT day, CAST((cents * 1000) // g.grand_mean AS BIGINT) AS cents_pm
        FROM daily, gm g
    ), mean_pm AS (
        SELECT CAST(SUM(cents_pm) // COUNT(*) AS BIGINT) AS mu FROM pm
    ), dev AS (
        SELECT day, cents_pm - m.mu AS d FROM pm, mean_pm m
    ), lagged AS (
        SELECT d,
               {', '.join(f"LAG(d, {k}) OVER (ORDER BY day) AS d{k}" for k in range(1, ACF_MAX_LAG + 1))}
        FROM dev
    ), denom AS (
        SELECT CAST(SUM(d * d) AS BIGINT) AS ss FROM dev
    )
    {" UNION ALL ".join(
        f'''SELECT {k} AS lag,
               CAST(COUNT(d{k}) AS BIGINT) AS n_pairs,
               CAST((1000 * SUM(d * d{k})) // NULLIF(dn.ss, 0) AS BIGINT) AS acf_milli
        FROM lagged, denom dn GROUP BY dn.ss'''
        for k in range(1, ACF_MAX_LAG + 1)
    )}
    ORDER BY lag
    """,
)
def ts17_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the daily revenue series at lags 1..7 — the
    diagnostic that DECIDES between the ts* models: a lag-7 spike says
    weekly seasonality (ts12/ts15 apply), slow decay says trend (ts10),
    white noise says the fancy models are fitting nothing.

    The textbook ACF (Box & Jenkins): r_k = Σ dᵗ·dᵗ⁺ᵏ / Σ d², with
    deviations taken per-mille of the grand mean (ts15's normalization
    — bounds every product at any corpus scale) and both the mean and
    the ratio as integer floor-divisions, so the whole correlogram is
    exact BIGINT arithmetic; n_pairs makes the shrinking-overlap
    denominator visible. One map-side daily rollup, one window pass
    producing all seven lag columns in a single WindowExec, seven
    1-row aggregates over the ≤366-row relation.
    """
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents")
    )
    gm = daily.agg(F.expr("sum(cents) div count(*)").alias("grand_mean"))
    pm = daily.crossJoin(F.broadcast(gm)).select(
        "day", F.expr("(cents * 1000) div grand_mean").alias("cents_pm")
    )
    mu = pm.agg(F.expr("sum(cents_pm) div count(*)").alias("mu"))
    dev = pm.crossJoin(F.broadcast(mu)).select(
        "day", (F.col("cents_pm") - F.col("mu")).alias("d")
    )
    w = Window.orderBy("day")
    lagged = dev.select(
        "d", *[F.lag("d", k).over(w).alias(f"d{k}") for k in range(1, ACF_MAX_LAG + 1)]
    )
    denom = dev.agg(F.sum(F.col("d") * F.col("d")).alias("ss"))
    # All seven lag sums/counts in ONE aggregate over the lagged
    # relation (a union of seven 1-row legs re-evaluates the window
    # seven times — measured 3× slower), then a zero-shuffle EXPAND to
    # long format.
    aggd = (
        lagged.crossJoin(F.broadcast(denom))
        .groupBy("ss")
        .agg(
            *[
                F.sum(F.col("d") * F.col(f"d{k}")).alias(f"s{k}")
                for k in range(1, ACF_MAX_LAG + 1)
            ],
            *[
                F.count(F.col(f"d{k}")).alias(f"n{k}")
                for k in range(1, ACF_MAX_LAG + 1)
            ],
        )
    )
    return (
        aggd.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(k).alias("lag"),
                            F.col(f"n{k}").alias("n_pairs"),
                            F.expr(f"(1000 * s{k}) div nullif(ss, 0)").alias(
                                "acf_milli"
                            ),
                        )
                        for k in range(1, ACF_MAX_LAG + 1)
                    ]
                )
            ).alias("r")
        )
        .select("r.lag", "r.n_pairs", "r.acf_milli")
        .orderBy("lag")
    )


# --- ts18: rolling distinct users (WAU) -------------------------------------------

WAU_WINDOW_DAYS = 7


@query(
    "ts18_rolling_wau",
    oracle=f"""
    WITH du AS (
        SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ), days AS (
        SELECT DISTINCT day FROM du
    )
    SELECT STRFTIME(d.day, '%Y-%m-%d') AS day,
           CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS wau
    FROM days d
    JOIN du u ON u.day <= d.day
             AND u.day > d.day - INTERVAL {WAU_WINDOW_DAYS} DAY
    GROUP BY d.day ORDER BY day
    """,
)
def ts18_rolling_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct active users (WAU) per day — THE product
    health metric, and the classic "you can't window COUNT(DISTINCT)"
    operator: distinct counts don't merge across frames, so a window
    function can't express it (the same non-algebraic wall inc03
    documents for incremental state).

    The scale form: dedup once to the (day, user) grain (the only
    fact-sized shuffle — everything after runs on active-user-days,
    not events), then EXPLODE each user-day into the ≤7 frame days it
    belongs to (a fixed ×7 map-side blowup, never data×data) so the
    frame membership is an EQUI key — a range join here compiles to a
    nested loop, which is exactly the shape the plan audit exists to
    reject; the frame-day explode is the bucket trick with a bounded
    bucket count. A final semi join restricts frames to days that
    exist in the data (the trailing explode otherwise invents empty
    future frames). The approximate O(1)-state alternative is an
    HLL-sketch union per frame (a29's machinery); this is the exact
    leg.
    """
    events = load_table(spark, sf_dir, "events")
    du = events.select(
        F.col("ts").cast("date").alias("day"), "user_id"
    ).distinct()
    days = du.select("day").distinct()
    frames = du.select(
        F.explode(
            F.sequence(
                F.col("day"), F.date_add(F.col("day"), WAU_WINDOW_DAYS - 1)
            )
        ).alias("day"),
        "user_id",
    )
    return (
        frames.join(days, "day", "left_semi")
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("wau"))
        .select(F.date_format("day", "yyyy-MM-dd").alias("day"), "wau")
        .orderBy("day")
    )


# --- mon04: error-budget accounting ------------------------------------------------

SLO_TARGET_MILLI = 700  # demo SLO: ≤ 30% of events may be errors (synthetic corpus)


@query(
    "mon04_error_budget",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS n_total,
               CAST(COUNT(*) FILTER (event_type = 'error') AS BIGINT) AS n_err
        FROM events GROUP BY 1
    ), cum AS (
        SELECT day, n_total, n_err,
               SUM(n_total) OVER (ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_total,
               SUM(n_err) OVER (ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_err
        FROM daily
    )
    SELECT STRFTIME(day, '%Y-%m-%d') AS day, n_total, n_err,
           CAST((1000 - {SLO_TARGET_MILLI}) * cum_total // 1000 AS BIGINT)
               AS budget_events,
           CAST(((1000 - {SLO_TARGET_MILLI}) * cum_total // 1000) - cum_err
               AS BIGINT) AS budget_remaining,
           (1000 * cum_err > (1000 - {SLO_TARGET_MILLI}) * cum_total)
               AS budget_exhausted
    FROM cum ORDER BY day
    """,
)
def mon04_error_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative error-budget accounting against an SLO — the ledger
    mon02's burn-rate alerts draw from (mon02 answers "are we burning
    too fast RIGHT NOW"; this answers "how much budget is left this
    period"). Budget = (1 − SLO)·total events so far; remaining =
    budget − errors so far; exhaustion is the integer
    cross-multiplication 1000·cum_err > (1000−SLO‰)·cum_total — no
    float rate ever materializes.

    One map-side daily rollup, one ordered window pass over the
    ≤366-row daily relation (per service key in multi-tenant use).
    """
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count("*").alias("n_total"),
        F.count(F.when(F.col("event_type") == "error", 1)).alias("n_err"),
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = daily.select(
        "day",
        "n_total",
        "n_err",
        F.sum("n_total").over(w).alias("cum_total"),
        F.sum("n_err").over(w).alias("cum_err"),
    )
    budget = F.expr(f"(1000 - {SLO_TARGET_MILLI}) * cum_total div 1000")
    return cum.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n_total",
        "n_err",
        budget.alias("budget_events"),
        (budget - F.col("cum_err")).alias("budget_remaining"),
        (
            1000 * F.col("cum_err") > (1000 - SLO_TARGET_MILLI) * F.col("cum_total")
        ).alias("budget_exhausted"),
    ).orderBy("day")


# --- ts19: inter-arrival distribution per event type --------------------------------


@query(
    "ts19_interarrival",
    oracle="""
    WITH gaps AS (
        SELECT event_type,
               DATE_DIFF('second',
                         LAG(ts) OVER (PARTITION BY event_type
                                       ORDER BY ts, event_id),
                         ts) AS gap_s
        FROM events
    ), g AS (
        SELECT event_type, gap_s,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY gap_s)
                   AS rn
        FROM gaps WHERE gap_s IS NOT NULL
    ), n AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_gaps,
               CAST(MAX(gap_s) AS BIGINT) AS max_gap_s
        FROM g GROUP BY event_type
    )
    SELECT g.event_type, n.n_gaps,
           CAST(MAX(CASE WHEN g.rn = (n.n_gaps + 1) // 2 THEN g.gap_s END)
                AS BIGINT) AS p50_gap_s,
           CAST(MAX(CASE WHEN g.rn = (9 * n.n_gaps + 9) // 10 THEN g.gap_s END)
                AS BIGINT) AS p90_gap_s,
           n.max_gap_s
    FROM g JOIN n ON g.event_type = n.event_type
    GROUP BY g.event_type, n.n_gaps, n.max_gap_s
    ORDER BY g.event_type
    """,
)
def ts19_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival-time distribution per event type: exact lower-median
    and p90 gap in whole seconds, plus the max — the arrival-rate
    health profile behind mon03's freshness lag (mon03 asks "how stale
    is the newest row", this asks "what cadence is NORMAL for this
    stream", which is what an alert threshold should be derived from).

    Percentiles are exact ORDER STATISTICS by index selection (value at
    row_number (n+1)//2 resp. ceil(0.9n) of the per-type sorted gap
    relation), not percentile_approx — approximate sketches are
    engine-specific and would never hash-match an oracle. Ties in gap_s
    make the row_number assignment ambiguous but the SELECTED value is
    still unique (equal values are interchangeable at any rank), so the
    contract stays deterministic. Two windows and one aggregate, all
    partitioned on event_type — a single exchange; gaps are BIGINT
    seconds end to end.
    """
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    gaps = events.select(
        "event_type",
        (F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))).alias(
            "gap_s"
        ),
    ).filter(F.col("gap_s").isNotNull())
    wr = Window.partitionBy("event_type").orderBy("gap_s")
    g = gaps.select("event_type", "gap_s", F.row_number().over(wr).alias("rn"))
    n = gaps.groupBy("event_type").agg(
        F.count("*").alias("n_gaps"), F.max("gap_s").alias("max_gap_s")
    )
    return (
        g.join(F.broadcast(n), "event_type")
        .groupBy("event_type", "n_gaps", "max_gap_s")
        .agg(
            F.max(
                F.when(F.col("rn") == F.expr("(n_gaps + 1) div 2"), F.col("gap_s"))
            ).alias("p50_gap_s"),
            F.max(
                F.when(
                    F.col("rn") == F.expr("(9 * n_gaps + 9) div 10"), F.col("gap_s")
                )
            ).alias("p90_gap_s"),
        )
        .select("event_type", "n_gaps", "p50_gap_s", "p90_gap_s", "max_gap_s")
        .orderBy("event_type")
    )
