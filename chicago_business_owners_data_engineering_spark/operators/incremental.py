"""Incremental aggregation maintenance + runtime join pre-filtering.

Two scale patterns the reference approximates with hand-rolled SQL:

- The warehouse maintains precomputed daily aggregate tables with
  ``INSERT ... ON CONFLICT DO UPDATE`` re-runs over the whole staging
  batch (cbddl/src/etl/pipeline.py:479-565). At 100 TB you cannot
  recompute the gold table per batch; the production form keeps
  **algebraic partial aggregates** (sum, count — mergeable state) and
  folds only the new partition in: cost O(|gold| + |delta|), never
  O(|history|). inc01 proves the merged result is bit-equal to a full
  recompute — the invariant that makes incremental maintenance safe.

- Selective dim-filtered joins ship the whole fact side into the join
  shuffle even when few keys survive the dim filter. Engines inject
  **runtime bloom filters** (Spark does this in AQE for some shapes);
  bf01 builds the same structure explicitly from native aggregates —
  xxhash64 bit positions OR-folded into an int64 bitmap — broadcasts
  it, and pre-filters the fact scan before the exact join. False
  positives are removed by the exact join, so the result is provably
  identical to the unfiltered plan; the bloom only cuts shuffle volume.
"""

from __future__ import annotations

import operator

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import query

# Everything shipped on or after the cutoff is the "new" increment; the
# base partials stand in for the persisted gold state.
INC_CUTOFF = "2001-01-01"


def _monthly_partials(lineitem: DataFrame) -> DataFrame:
    """Mergeable per-month partial state: (sum_qty, sum_price, n_items).

    Only algebraic aggregates — each is merged across increments by
    SUM, and finalizers (avg) are computed at read time. This is the
    same partial/merge split Spark's own HashAggregate does between its
    partial and final modes, lifted to the storage layer.
    """
    return lineitem.groupBy(
        F.date_format("l_shipdate", "yyyy-MM").alias("ship_month")
    ).agg(
        # INTEGER partial state (skew01's money rule): BIGINT partials
        # merge exactly in any order, so merge ≡ recompute is an
        # identity, not a tolerance — float partials made the invariant
        # hold only to last-ulp noise.
        F.sum(F.floor("l_quantity")).alias("sum_qty"),
        F.sum(F.floor(F.col("l_extendedprice") * 100)).alias("sum_price_cents"),
        F.count("*").alias("n_items"),
    )


@query(
    "inc01_incremental_rollup",
    oracle=f"""
    SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
           CAST(SUM(CAST(FLOOR(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
           CAST(SUM(CAST(FLOOR(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS sum_price_cents,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           ROUND(CAST(SUM(CAST(FLOOR(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
                 / (100.0 * COUNT(*)), 4) AS avg_price
    FROM lineitem
    GROUP BY 1
    ORDER BY ship_month
    """,
)
def inc01_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance via mergeable partials.

    The executed plan computes the base partials (shipdate < cutoff)
    and the delta partials (>= cutoff) as separate aggregations — at
    scale the base is a stored gold table and only the delta is scanned
    — then merges by summing partial state and finalizes (avg =
    sum/count). The oracle recomputes the rollup from the full history
    in one pass; equality IS the incremental-maintenance invariant.
    Counts stay BIGINT on both sides; avg is finalized with the same
    ROUND on both engines.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    cutoff = F.lit(INC_CUTOFF).cast("timestamp")
    base = _monthly_partials(lineitem.filter(F.col("l_shipdate") < cutoff))
    delta = _monthly_partials(lineitem.filter(F.col("l_shipdate") >= cutoff))
    merged = (
        base.unionByName(delta)
        .groupBy("ship_month")
        .agg(
            F.sum("sum_qty").alias("sum_qty"),
            F.sum("sum_price_cents").alias("sum_price_cents"),
            F.sum("n_items").alias("n_items"),
        )
    )
    return merged.select(
        "ship_month",
        "sum_qty",
        "sum_price_cents",
        "n_items",
        # one division of exact integers — fold-order-proof finalizer
        F.round(
            F.col("sum_price_cents").cast("double") / (F.lit(100.0) * F.col("n_items")),
            4,
        ).alias("avg_price"),
    ).orderBy("ship_month")


# Bloom sizing: ~3k urgent orders at sf0.01 scale with the date filter;
# 64K bits / 3 probes keeps the false-positive rate ~1% and the whole
# bitmap at 8 KB — broadcastable at any scale because it's O(bits), not
# O(keys).
BLOOM_BITS = 1 << 16
BLOOM_HASHES = 3


def bloom_build(keys: DataFrame, key_col: str) -> DataFrame:
    """Single-row (map<word_idx,bits>) bloom filter over a key column.

    Native-aggregate construction: k seeded xxhash64 positions per key,
    exploded, grouped into int64 words with BIT_OR — two tiny shuffles
    over at most k·|keys| ints, then one map literal row. No UDF, no
    driver-side loop over keys.
    """
    pos = keys.select(
        F.explode(
            F.array(
                *[
                    F.pmod(F.xxhash64(F.col(key_col), F.lit(i)), F.lit(BLOOM_BITS))
                    for i in range(BLOOM_HASHES)
                ]
            )
        ).alias("p")
    )
    # F.shiftleft only takes a literal shift amount; call_function routes
    # the column-valued shift through the same JVM expression.
    word = F.call_function(
        "shiftleft", F.lit(1).cast("long"), (F.col("p") % 64).cast("int")
    )
    words = pos.groupBy((F.col("p") / 64).cast("long").alias("word_idx")).agg(
        F.bit_or(word).alias("bits")
    )
    return words.agg(
        F.map_from_entries(F.collect_list(F.struct("word_idx", "bits"))).alias("bloom")
    )


def bloom_probe(bloom_col: Column, key: Column) -> Column:
    """True when every seeded hash position is set (candidate member)."""
    checks = []
    for i in range(BLOOM_HASHES):
        p = F.pmod(F.xxhash64(key, F.lit(i)), F.lit(BLOOM_BITS))
        word = F.coalesce(
            F.element_at(bloom_col, (p / 64).cast("long")), F.lit(0).cast("long")
        )
        bit = F.call_function("shiftleft", F.lit(1).cast("long"), (p % 64).cast("int"))
        checks.append(word.bitwiseAND(bit) != 0)
    out = checks[0]
    for c in checks[1:]:
        out = out & c
    return out


@query(
    "bf01_bloom_join_prefilter",
    oracle="""
    SELECT l.l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(FLOOR(l.l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty
    FROM lineitem l
    WHERE l.l_orderkey IN (
        SELECT o_orderkey FROM orders
        WHERE o_orderpriority = '1-URGENT'
          AND o_orderdate >= TIMESTAMP '2000-01-01'
    )
    GROUP BY l.l_returnflag
    ORDER BY l.l_returnflag
    """,
)
def bf01_bloom_join_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi join accelerated by an explicit runtime bloom pre-filter.

    Build a bloom over the urgent-recent order keys, broadcast the 8 KB
    bitmap, drop ~97% of lineitem rows map-side BEFORE the exact semi
    join, then aggregate. The exact join removes bloom false positives,
    so output == the plain semi join (the oracle). At test scale the
    key set itself is broadcastable and the bloom is redundant; at
    100 TB the bitmap stays 8 KB while the key set does not, and the
    map-side drop is what keeps the join shuffle small — same reasoning
    as Spark's AQE runtime filters, made explicit and testable.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    keys = orders.filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
    ).select("o_orderkey")
    bloom = bloom_build(keys, "o_orderkey")
    candidates = (
        lineitem.crossJoin(F.broadcast(bloom))
        .filter(bloom_probe(F.col("bloom"), F.col("l_orderkey")))
        .drop("bloom")
    )
    exact = candidates.join(
        F.broadcast(keys),
        candidates["l_orderkey"] == keys["o_orderkey"],
        "left_semi",
    )
    return (
        exact.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(F.floor("l_quantity")).alias("sum_qty"),
        )
        .orderBy("l_returnflag")
    )


# Oracle constant shared with the dd06/dd07/dd08 component family
# (registry-free module — safe to import at decoration time).
from .shared_oracles import DD06_COMPONENT_CTE  # noqa: E402


@query(
    "inc02_incremental_components",
    oracle=DD06_COMPONENT_CTE
    + """
    SELECT doc_id, component, doc_id % 7 = 0 AS arrived_today
    FROM comp ORDER BY doc_id
    """,
)
def inc02_incremental_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental connected components: fold today's edges into
    yesterday's labels via the quotient graph, never recompute.

    The maintenance form of dd06/dd08 — the reason component-based
    dedup/ER stays tractable as a DAILY job at 100 TB: yesterday's
    (doc_id, component) labels are persisted state; today's new docs
    contribute a delta edge set; and instead of re-running components
    over the full corpus graph, each delta edge is mapped through
    yesterday's labels (endpoint → its component root, identity for
    unseen docs) and components run on that QUOTIENT graph — whose size
    is O(|delta| + touched components), not O(|corpus|). Composing the
    two label maps (doc → yesterday's root → quotient root) is exactly
    the full recompute because component minima compose: the quotient
    min over {base roots ∪ new docs} IS the merged component's global
    min.

    Executed here self-contained: the corpus splits deterministically
    (doc_id % 7 == 0 = "arrived today"), the base labels are recomputed
    from the old-doc edges (at scale: a read of yesterday's output),
    and the delta path runs as in production. The LSH edge relation is
    computed ONCE and partitioned into base/delta by filter — candidate
    pairs are per-(band,bucket) so old-old pairs are identical whether
    or not new docs exist, making the split exact, not approximate.
    The DuckDB oracle is the FULL recompute over the brute-force
    all-pairs graph; equality is the incremental-maintenance invariant
    (inc01's, lifted from algebraic aggregates to graph state).
    """
    from ..catalog import load_table, spread_scan
    from .dedup import _shingle_set, neardup_edges
    from .graph import components_large_small_star

    documents = spread_scan(load_table(spark, sf_dir, "documents"))
    docs = documents.select("doc_id", _shingle_set(F.col("text")).alias("ws"))
    all_edges = neardup_edges(docs, "ws", threshold=0.5).localCheckpoint(eager=True)
    a_new = F.col("doc_a") % 7 == 0
    b_new = F.col("doc_b") % 7 == 0
    base_edges = all_edges.filter(~a_new & ~b_new)
    delta_edges = all_edges.filter(a_new | b_new)

    base_labels = components_large_small_star(base_edges)
    la = base_labels.select(F.col("doc_id").alias("doc_a"), F.col("component").alias("ca"))
    lb = base_labels.select(F.col("doc_id").alias("doc_b"), F.col("component").alias("cb"))
    quotient = (
        delta_edges.join(la, "doc_a", "left")
        .join(lb, "doc_b", "left")
        .select(
            F.coalesce("ca", F.col("doc_a")).alias("doc_a"),
            F.coalesce("cb", F.col("doc_b")).alias("doc_b"),
        )
    )
    # The quotient graph is delta-sized, so this second run is cheap.
    q_labels = components_large_small_star(quotient).select(
        F.col("doc_id").alias("mid"), F.col("component").alias("final")
    )

    universe = (
        all_edges.select(F.col("doc_a").alias("doc_id"))
        .unionByName(all_edges.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    with_base = universe.join(base_labels, "doc_id", "left").select(
        "doc_id", F.coalesce("component", F.col("doc_id")).alias("mid")
    )
    return (
        with_base.join(q_labels, "mid", "left")
        .select(
            "doc_id",
            F.coalesce("final", F.col("mid")).alias("component"),
            (F.col("doc_id") % 7 == 0).alias("arrived_today"),
        )
        .orderBy("doc_id")
    )


# --- inc03: incremental DISTINCT maintenance ----------------------------------

# Arrival-order split: event_id is ingest order, so "% 5 == 0" models a
# late-arriving batch whose EVENT TIMES are spread across historic days
# — the case where per-day distinct counts cannot be maintained from
# partial counts. (A ts-based cutoff would make the anti-join vacuous:
# with day-grain state, a day can never span a midnight cutoff.)
INC3_DELTA_MOD = 5


@query(
    "inc03_incremental_distinct",
    oracle="""
    SELECT STRFTIME(CAST(ts AS DATE), '%Y-%m-%d') AS day,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    GROUP BY 1
    ORDER BY day
    """,
)
def inc03_incremental_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of per-day DISTINCT user counts.

    The non-algebraic sibling of inc01: a distinct count cannot be
    merged from partial counts (two increments may share users), so
    the stored state must be the distinct KEY SET itself — here the
    deduplicated (day, user) relation, the "exactly-once visitor"
    table every analytics warehouse keeps precisely because count
    partials don't merge. The executed plan maintains it
    incrementally: the base key set (arrived before the delta batch)
    stands in for stored state; the delta is a LATE-ARRIVING batch
    whose event times are spread across historic days, so its
    deduplicated candidate keys are ANTI-JOINED against the state and
    only never-seen (day, user) pairs append; counts then aggregate
    state + appended increments. The oracle recomputes
    COUNT(DISTINCT) from full history; equality is the maintenance
    invariant (same proof shape as inc01/inc02), and it holds ONLY
    because of the anti-join — a user active in both the history and
    the late batch on the same day would otherwise double-count.

    Scale shape: the anti-join keys on (day, user) — state is
    day-partitioned in production, so a delta touching d days prunes
    the probe to d partitions (DPP), cost O(|delta| + |state ∩ delta
    days|), never O(|history|). The sketch alternative
    (approx_count_distinct / HLL-union, a02/a29) merges in O(1) state
    but answers approximately; this is the exact path.

    Parity: beyond-reference (incremental-maintenance extension; the
    reference recomputes its daily aggregates per batch,
    cbddl/src/etl/pipeline.py:479-565).
    """
    events = load_table(spark, sf_dir, "events")
    is_delta = F.col("event_id") % INC3_DELTA_MOD == 0
    day = F.date_format(F.col("ts").cast("date"), "yyyy-MM-dd").alias("day")
    base_state = events.filter(~is_delta).select(day, "user_id").distinct()
    delta_new = (
        events.filter(is_delta)
        .select(day, "user_id")
        .distinct()
        .join(base_state, ["day", "user_id"], "left_anti")
    )
    return (
        base_state.unionByName(delta_new)
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("day")
    )


# --- inc04: incremental near-dup index probe ----------------------------------

from .shared_oracles import DD04_EXACT_PAIRS_SQL  # noqa: E402

INC04_DELTA_MOD = 5  # doc_id % 5 == 0 arrives "today"


@query(
    "inc04_incremental_neardup_probe",
    oracle=f"""
    SELECT * FROM ({DD04_EXACT_PAIRS_SQL})
    WHERE doc_a % {INC04_DELTA_MOD} = 0 OR doc_b % {INC04_DELTA_MOD} = 0
    ORDER BY doc_a, doc_b
    """,
)
def inc04_incremental_neardup_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MinHash-LSH maintenance: probe a standing near-dup
    index with a delta batch — every ≥0.5-Jaccard pair TOUCHING the
    delta, without rescanning the old corpus text.

    The daily operating mode of fuzzy dedup at 100 TB (dd04 is the
    build, this is the run): yesterday's index is the two stored
    relations minhash_index_rows defines — (doc, band_id, band_hash)
    bucket keys and (doc, hset) hashed token sets; today's batch is
    hashed by the SAME builders (byte-identical rows whether built
    batch-by-batch or in one pass — the streaming admission sink's
    invariant), its bands probe the union index for bucket collisions
    (delta×old AND delta×delta), and only the colliding candidates get
    exact-Jaccard verification against stored hsets. Probe cost is
    O(|delta bands| + collisions) — the old corpus contributes only
    index lookups, never text re-hashing. Orientation is normalized
    with least/greatest so a pair is emitted once regardless of which
    side is newer.

    Executed self-contained: the corpus splits deterministically
    (doc_id % INC04_DELTA_MOD == 0 = today's batch) and the "stored"
    index is recomputed from old docs (at scale: a parquet read of the
    index relations — see the online LSH admission sink,
    streaming/jobs.py, which maintains exactly these rows). The oracle
    is dd04's exact all-pairs SQL restricted to delta-touching pairs —
    the same RECALL certificate: banded LSH provably misses no ≥0.5
    pair on this corpus, and precision is exact by construction.

    Parity: the reference dedups only within one load via pandas
    drop_duplicates (cbddl/src/data_ingestion/ingestion_pipeline.py:95);
    cross-load incremental near-dup is the beyond-reference form.
    """
    from ..catalog import spread_scan
    from .dedup import _shingle_set, bucket_pairs, jaccard_verify, minhash_index_rows

    documents = spread_scan(load_table(spark, sf_dir, "documents"))
    docs = documents.select("doc_id", _shingle_set(F.col("text")).alias("shingles"))
    is_delta = F.col("doc_id") % INC04_DELTA_MOD == 0
    idx_bands, idx_hsets = minhash_index_rows(docs.filter(~is_delta), "doc_id", "shingles")
    d_bands, d_hsets = minhash_index_rows(docs.filter(is_delta), "doc_id", "shingles")

    candidates = bucket_pairs(
        d_bands,
        idx_bands.unionByName(d_bands),
        ["band_id", "band_hash"],
        F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_a"),
        F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_b"),
        op=operator.ne,
    )
    hsets = idx_hsets.unionByName(d_hsets)
    return jaccard_verify(candidates, hsets, "hset", 0.5).orderBy("doc_a", "doc_b")


# --- inc05: incremental top-k heavy hitters -----------------------------------

INC5_DELTA_MOD = 5  # event_id % 5 == 0 arrives in "today's" batch
INC5_TOP = 10


@query(
    "inc05_incremental_topk",
    oracle=f"""
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events
    GROUP BY user_id
    ORDER BY n_events DESC, user_id ASC
    LIMIT {INC5_TOP}
    """,
)
def inc05_incremental_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a top-k activity leaderboard.

    The lesson this operator pins: per-key COUNTS are algebraic (a
    delta's partial counts merge into state with one sum), but TOP-K
    IS NOT — a key far below yesterday's cut can vault into today's
    top-k, so the stored state must be the FULL per-key count relation,
    never just the current leaderboard. (Same non-algebraic taxonomy as
    inc03's distinct counts; the sketchy alternative — count-min + heap,
    a28 — bounds state at the cost of exactness.)

    The executed plan maintains it incrementally: the base count
    relation (arrived before the delta batch) stands in for stored
    state; the delta batch aggregates ALONE (O(|delta|), map-side
    partial); the merge is a full-outer join on the key — in
    production, state is key-partitioned so only the delta's key
    partitions are touched — and the leaderboard is a TakeOrdered over
    the merged relation (per-partition top-k, no global sort). The
    oracle recomputes from full history; equality is the maintenance
    invariant.

    Parity: beyond-reference (incremental-maintenance extension; the
    reference recomputes its per-owner tabulations per run,
    cbddl/src/analytics/demographics_analyzer.py:103-123).
    """
    events = load_table(spark, sf_dir, "events")
    is_delta = F.col("event_id") % INC5_DELTA_MOD == 0
    state = events.filter(~is_delta).groupBy("user_id").agg(
        F.count("*").alias("c")
    )
    delta = events.filter(is_delta).groupBy("user_id").agg(
        F.count("*").alias("dc")
    )
    merged = state.join(delta, "user_id", "full_outer").select(
        "user_id",
        (
            F.coalesce(F.col("c"), F.lit(0)) + F.coalesce(F.col("dc"), F.lit(0))
        ).alias("n_events"),
    )
    return merged.orderBy(F.desc("n_events"), F.asc("user_id")).limit(INC5_TOP)
