"""Training-data curation operators.

Extends the §2.11 beyond-reference surface (SURVEY.md) with the
curation ops a 100 TB pretraining pipeline runs between "raw corpus"
and "tokenizer input": repetition-based quality signals (the Gopher
filters), deterministic source-mixture sampling, token budgeting for
mixture planning, distribution-drift monitoring between time slices,
canonical-document selection inside near-dup clusters, and the
higher-order array-function tier used for embedding math without UDFs.

Seeds in the reference: quality metrics at ingest
(cbddl/src/data_ingestion/ingestion_pipeline.py:54-74), word frequency
analysis (cbddl/src/analytics/demographics_analyzer.py:173-182), and
the monitoring layer's health queries
(cbddl/src/monitoring/pipeline_monitor.py:152-207) — re-expressed here
as corpus-scale DataFrame plans.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.sampling import md5_bucket, mixture_weight
from ..functions.text import repetition_stats, shifted, token_rows, word_rows, words
from ..functions.text import ws_tokens
from ..registry import query
from .shared_oracles import MIXTURE_WEIGHT_SQL, REPETITION_STATS_SQL, WS_TOKENS_SQL
from .shared_oracles import WS_TOKS_SQL, md5_bucket_sql, ngrams_sql, unnest_words_sql
from .shared_oracles import words_sql


@query(
    "tx07_repetition_stats",
    oracle=f"""
    -- CAST: DuckDB SUM(BIGINT) yields HUGEINT -> pandas float64,
    -- but Spark emits int64; the driver's hash is dtype-sensitive.
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           ROUND(dup_token_frac, 6) AS dup_token_frac,
           ROUND(top_token_frac, 6) AS top_token_frac
    FROM ({REPETITION_STATS_SQL})
    """,
)
def tx07_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals: dup-token and top-token fractions.

    The repetition family of pretraining quality filters (Rae et al.
    2021 §A1.1): a document whose text is mostly one token repeated, or
    whose distinct-token ratio collapses, is machine-generated boilerplate
    and gets dropped before training. Two-level aggregation — explode to
    (doc, token), count per pair with map-side partial agg, then one
    row per doc — the same shuffle shape as a18's word frequency, so it
    scales as a linear scan. No UDF: the fractions are plain column
    arithmetic over the second-level counts.
    """
    documents = load_table(spark, sf_dir, "documents")
    return repetition_stats(documents).select(
        "doc_id",
        "n_tokens",
        F.round("dup_token_frac", 6).alias("dup_token_frac"),
        F.round("top_token_frac", 6).alias("top_token_frac"),
    )


@query(
    "tp08_source_mixture_sample",
    oracle=f"""
    SELECT doc_id, lang, source
    FROM documents
    WHERE {md5_bucket_sql("CAST(doc_id AS VARCHAR)", 100)} < {MIXTURE_WEIGHT_SQL}
    """,
)
def tp08_source_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-source mixture downsampling.

    Pretraining mixtures weight sources differently (keep 25% of crawl,
    90% of curated text, ...). Sampling by key-hash instead of rand()
    makes the mixture a pure function of (doc_id, source): stable under
    re-runs, repartitioning, and incremental appends — rerunning over a
    grown corpus keeps every previously-selected doc selected, so shards
    can be built incrementally. Pure projection + filter, zero shuffles;
    the weight table arrives as a CASE expression (at real scale, a
    broadcast-joined config dim).
    """
    documents = load_table(spark, sf_dir, "documents")
    return documents.filter(md5_bucket(F.col("doc_id")) < mixture_weight()).select(
        "doc_id", "lang", "source"
    )


@query(
    "tp09_token_budget",
    oracle=f"""
    WITH per_doc AS (
        SELECT lang, source, LEN({WS_TOKENS_SQL}) AS n_tokens
        FROM documents
    ), per_group AS (
        SELECT lang, source, COUNT(*) AS docs,
               -- CAST: HUGEINT->float64 vs Spark int64 (driver dtype hash)
               CAST(SUM(n_tokens) AS BIGINT) AS tokens
        FROM per_doc GROUP BY lang, source
    )
    SELECT lang, source, docs, tokens,
           ROUND(tokens * 1.0 / SUM(tokens) OVER (), 6) AS token_share,
           ROUND(SUM(tokens) OVER (ORDER BY tokens DESC, source)
                 * 1.0 / SUM(tokens) OVER (), 6) AS cum_share
    FROM per_group
    """,
)
def tp09_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token budgeting per (lang, source) for mixture planning.

    The planning query behind tp08's weights: how many tokens each
    source contributes, its share of the corpus, and the cumulative
    share in descending-size order ("the top k sources cover x% of
    tokens"). Token count is the size of the single-space split
    (``ws_tokens``), so the per-doc stage is shuffle-free; the group stage
    aggregates to source cardinality (tiny), and the grand-total /
    cumulative windows run over that aggregate — single-partition
    windows over dozens of rows, never over raw documents (the PERF.md
    post-aggregation-window rule).
    """
    documents = load_table(spark, sf_dir, "documents")
    per_group = (
        documents.select("lang", "source", F.size(ws_tokens()).alias("n_tokens"))
        .groupBy("lang", "source")
        .agg(F.count("*").alias("docs"), F.sum("n_tokens").alias("tokens"))
    )
    w_all = Window.partitionBy()
    w_cum = Window.partitionBy().orderBy(F.desc("tokens"), F.asc("source"))
    return per_group.select(
        "lang",
        "source",
        "docs",
        "tokens",
        F.round(F.col("tokens") / F.sum("tokens").over(w_all), 6).alias("token_share"),
        F.round(
            F.sum("tokens").over(w_cum) / F.sum("tokens").over(w_all), 6
        ).alias("cum_share"),
    )


_DRIFT_SPLIT = "2024-01-16 00:00:00"
_DRIFT_BIN_WIDTH = 50.0
_DRIFT_BINS = 10


@query(
    "dq04_distribution_drift",
    oracle=f"""
    WITH binned AS (
        SELECT LEAST(CAST(FLOOR(value / {_DRIFT_BIN_WIDTH}) AS BIGINT),
                     {_DRIFT_BINS - 1}) AS bin,
               ts < TIMESTAMP '{_DRIFT_SPLIT}' AS is_ref
        FROM events
    ), spine AS (
        SELECT UNNEST(GENERATE_SERIES(0, {_DRIFT_BINS - 1})) AS bin
    ), counts AS (
        SELECT s.bin,
               COUNT(*) FILTER (b.is_ref) AS c_ref,
               COUNT(*) FILTER (NOT b.is_ref) AS c_cur
        FROM spine s LEFT JOIN binned b ON s.bin = b.bin
        GROUP BY s.bin
    ), totals AS (
        SELECT SUM(c_ref) AS n_ref, SUM(c_cur) AS n_cur FROM counts
    )
    SELECT ROUND(SUM(
               ((c_ref + 1.0) / (n_ref + {_DRIFT_BINS}) -
                (c_cur + 1.0) / (n_cur + {_DRIFT_BINS})) *
               LN(((c_ref + 1.0) / (n_ref + {_DRIFT_BINS})) /
                  ((c_cur + 1.0) / (n_cur + {_DRIFT_BINS})))
           ), 6) AS psi
    FROM counts, totals
    """,
)
def dq04_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between two time slices of a metric.

    The monitoring layer's drift alarm (extending dq03's volume check to
    SHAPE): bin ``events.value`` into fixed-width buckets, compare the
    reference window's bin proportions against the current window's, and
    summarize as PSI = Σ (p−q)·ln(p/q) with +1 Laplace smoothing so
    empty bins stay finite. One scan computes both histograms as
    conditional counts (no second pass, no join of two filtered reads);
    a static 10-row bin spine left-joins the observed counts so missing
    bins participate. Everything after the first aggregate moves ≤10
    rows. PSI > 0.2 is the conventional "investigate" threshold.
    """
    events = load_table(spark, sf_dir, "events")
    binned = events.select(
        F.least(
            F.floor(F.col("value") / _DRIFT_BIN_WIDTH).cast("long"),
            F.lit(_DRIFT_BINS - 1).cast("long"),
        ).alias("bin"),
        (F.col("ts") < F.lit(_DRIFT_SPLIT).cast("timestamp")).alias("is_ref"),
    )
    counts = binned.groupBy("bin").agg(
        F.count(F.when(F.col("is_ref"), 1)).alias("c_ref"),
        F.count(F.when(~F.col("is_ref"), 1)).alias("c_cur"),
    )
    spine = spark.range(_DRIFT_BINS).select(F.col("id").alias("bin"))
    full = (
        F.broadcast(spine)
        .join(counts, "bin", "left")
        .na.fill({"c_ref": 0, "c_cur": 0})
    )
    w = Window.partitionBy()
    p = (F.col("c_ref") + 1.0) / (F.sum("c_ref").over(w) + _DRIFT_BINS)
    q = (F.col("c_cur") + 1.0) / (F.sum("c_cur").over(w) + _DRIFT_BINS)
    return (
        full.select(((p - q) * F.log(p / q)).alias("term"))
        .agg(F.round(F.sum("term"), 6).alias("psi"))
    )


@query(
    "f24_higher_order_array",
    oracle="""
    SELECT vec_id,
           LEN(embedding) AS dim,
           LEN(LIST_FILTER(embedding, x -> x > 0)) AS n_pos,
           ROUND(SQRT(LIST_AGGREGATE(
               LIST_TRANSFORM(embedding,
                              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
               'sum')), 6) AS l2_norm,
           ROUND(CAST(LIST_MAX(LIST_TRANSFORM(embedding, x -> ABS(x)))
                      AS DOUBLE), 6) AS max_abs
    FROM embeddings
    """,
)
def f24_higher_order_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions: transform / filter / aggregate / max.

    The no-UDF tier for embedding math: every lambda here compiles to a
    Catalyst expression evaluated inside codegen — no Python worker, no
    Arrow transfer, no serialization. This is the building block the
    sim* family composes (dot products via aggregate∘zip_with); shown
    here standalone so the plan is auditable: a pure projection, zero
    shuffles, scan-speed at any scale. Squares are computed in double
    on both engines (float32 widening is exact) and folded in array
    order, so the oracle comparison is drift-free.
    """
    embeddings = load_table(spark, sf_dir, "embeddings")
    sq_sum = F.aggregate(
        F.transform(F.col("embedding"), lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return embeddings.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.size(F.filter(F.col("embedding"), lambda x: x > 0)).alias("n_pos"),
        F.round(F.sqrt(sq_sum), 6).alias("l2_norm"),
        F.round(
            F.array_max(F.transform(F.col("embedding"), F.abs)).cast("double"), 6
        ).alias("max_abs"),
    )


# Shared oracle prefix for the surprisal family: corpus unigram tf ->
# per-doc mean self-information. tx09 and tp10 BOTH compose from this
# constant (and from surprisal_scores on the Spark side), so the
# difficulty score tp10 ranks on can never silently diverge from the
# avg_surprisal tx09 reports.
_SURPRISAL_CTE = f"""
    WITH toks AS (
        {WS_TOKS_SQL}
    ), tf AS (
        SELECT tok, COUNT(*) AS c FROM toks WHERE tok <> '' GROUP BY tok
    ), tot AS (
        SELECT SUM(c) AS n FROM tf
    ), scored AS (
        SELECT t.doc_id,
               COUNT(*) AS n_tokens,
               ROUND(AVG(-LOG2(f.c * 1.0 / tot.n)), 4) AS avg_surprisal
        FROM toks t
        JOIN tf f ON t.tok = f.tok
        CROSS JOIN tot
        WHERE t.tok <> ''
        GROUP BY t.doc_id
    )
"""


def surprisal_scores(documents: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, avg_surprisal) — the shared scoring plan.

    ONE explode feeds both the corpus term-frequency aggregate and the
    per-token scoring join; the grand total re-enters as a 1-row
    broadcast. The vocabulary relation stays unhinted — tiny here
    (broadcast), vocabulary-sized at 100 TB where AQE picks the shuffle
    join and the tf aggregate's map-side partials bound the traffic.
    """
    toks = token_rows(documents)
    tf = toks.groupBy("tok").agg(F.count("*").alias("c"))
    tot = tf.agg(F.sum("c").alias("n"))
    return (
        toks.join(tf, "tok")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.avg(-F.log2(F.col("c") / F.col("n"))), 4).alias(
                "avg_surprisal"
            ),
        )
    )


@query(
    "tx09_unigram_surprisal",
    oracle=_SURPRISAL_CTE + "SELECT doc_id, n_tokens, avg_surprisal FROM scored",
)
def tx09_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean unigram surprisal — a perplexity-proxy score.

    The cheap language-model quality signal: score each document by the
    average self-information −log2 p(token) of its tokens under the
    corpus unigram distribution (the degenerate KenLM). Unusually low
    surprisal → repetitive boilerplate; unusually high → noise/garbage —
    both ends get filtered before pretraining. Plan shape: see
    surprisal_scores (shared with tp10).
    """
    return surprisal_scores(load_table(spark, sf_dir, "documents"))


@query(
    "tp10_curriculum_order",
    oracle=_SURPRISAL_CTE
    + """
    SELECT doc_id, avg_surprisal AS difficulty,
           ROW_NUMBER() OVER (ORDER BY avg_surprisal, doc_id) AS curriculum_rank,
           NTILE(10) OVER (ORDER BY avg_surprisal, doc_id) AS decile
    FROM scored
    """,
)
def tp10_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum ordering: rank the corpus easy → hard by surprisal.

    Curriculum-learning data schedules feed low-perplexity documents
    first; this materializes the schedule as (rank, decile) over tx09's
    unigram-surprisal difficulty score. Ranking on the ROUNDED score
    with a doc_id tiebreak keeps the order identical across engines.
    The global ROW_NUMBER/NTILE windows run post-aggregation over one
    row per document — at 100 TB the schedule is computed per shard
    (rank within shard), or via range-partitioned sort; the global
    window here documents the small-result form.
    """
    scored = surprisal_scores(load_table(spark, sf_dir, "documents")).select(
        "doc_id", F.col("avg_surprisal").alias("difficulty")
    )
    w = Window.partitionBy().orderBy("difficulty", "doc_id")
    return scored.select(
        "doc_id",
        "difficulty",
        F.row_number().over(w).alias("curriculum_rank"),
        F.ntile(10).over(w).alias("decile"),
    )


FREQ_ITEMS_COLS = ("o_orderpriority", "o_orderstatus")


def a31_sketch_items(spark: SparkSession, sf_dir: str) -> dict[str, set]:
    """The raw KPS freq-items sets, per column.

    ``df.stat.freqItems`` finds all items with frequency above the
    support threshold in ONE pass with bounded memory — no shuffle of
    the full value distribution, unlike the exact a08/a09 count-by.
    Returns one row of ≤1/support-element arrays; collecting it is a
    bounded driver read like any scalar aggregate.
    """
    orders = load_table(spark, sf_dir, "orders")
    row = orders.stat.freqItems(list(FREQ_ITEMS_COLS), support=0.2).collect()[0]
    return {c: set(row[f"{c}_freqItems"]) for c in FREQ_ITEMS_COLS}


@query(
    "a31_freq_items",
    oracle="""
    WITH total AS (SELECT COUNT(*) AS n FROM orders)
    SELECT 'o_orderpriority' AS col_name, o_orderpriority AS item,
           COUNT(*) AS exact_count, TRUE AS captured
    FROM orders GROUP BY o_orderpriority
    HAVING COUNT(*) * 5 > (SELECT n FROM total)
    UNION ALL
    SELECT 'o_orderstatus', o_orderstatus, COUNT(*), TRUE
    FROM orders GROUP BY o_orderstatus
    HAVING COUNT(*) * 5 > (SELECT n FROM total)
    """,
)
def a31_freq_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate frequent items (Karp-Papadimitriou-Shenker sketch).

    The KPS guarantee is one-sided — a SUPERSET: every item with
    frequency strictly above the support (0.2) is present; false
    positives are allowed. That superset IS SQL-expressible, so instead
    of rows-only the query emits the EXACT heavy hitters (grouped
    counts filtered by the integer-exact ``5·count > n``, identical in
    DuckDB) with a ``captured`` boolean asserting each one appears in
    the sketch output — the oracle pins ``captured`` to TRUE, so a
    sketch that misses a truly-frequent item fails the hash gate. The
    false-positive side stays unchecked by design (it is engine-
    specific); a28 is the frequency-ESTIMATE sibling, this one answers
    membership.
    """
    captured = a31_sketch_items(spark, sf_dir)
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy()
    parts = []
    for c in FREQ_ITEMS_COLS:
        grouped = orders.groupBy(F.col(c).alias("item")).agg(
            F.count("*").alias("exact_count")
        )
        # total row count = sum of the grouped counts (c is non-null);
        # an unpartitioned window over the ≤5-row grouped relation, so
        # no second scan and no crossJoin.
        heavy = grouped.withColumn("n", F.sum("exact_count").over(w)).filter(
            F.col("exact_count") * 5 > F.col("n")
        )
        in_sketch = (
            F.col("item").isin(*sorted(captured[c])) if captured[c] else F.lit(False)
        )
        parts.append(
            heavy.select(
                F.lit(c).alias("col_name"),
                "item",
                "exact_count",
                in_sketch.alias("captured"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("col_name", "item")


BLOCKLISTED_SOURCES = ("src2", "src7", "src11")


@query(
    "tx10_blocklist_filter",
    oracle=f"""
    SELECT doc_id, source, lang
    FROM documents
    WHERE source NOT IN {BLOCKLISTED_SOURCES!r}
    """,
)
def tx10_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist filtering via an executor-shared broadcast variable.

    Curation pipelines drop documents from denied domains/sources. For
    a FIXED small list the native form is ``~col.isin(...)`` (and
    that's what the oracle states); this implementation demonstrates
    the broadcast-variable pattern the real op needs when the
    blocklist is operationally large (millions of domains, refreshed
    daily): ``sc.broadcast`` ships the set to each executor ONCE per
    job, and an Arrow-batched pandas UDF probes it per value — no
    per-row driver lookup, no join shuffle, no re-serialization per
    task. At even larger list sizes the pattern upgrades to a
    broadcast left_anti JOIN; the differential check proves the UDF
    path equals the native semantics exactly.
    """
    from pyspark.sql.functions import pandas_udf

    documents = load_table(spark, sf_dir, "documents")
    blocked = spark.sparkContext.broadcast(frozenset(BLOCKLISTED_SOURCES))

    @pandas_udf("boolean")
    def is_blocked(source: pd.Series) -> pd.Series:
        # Vectorized probe over the whole Arrow batch — no per-row
        # Python lambda between pandas and the broadcast set.
        return source.isin(blocked.value)

    return documents.filter(~is_blocked(F.col("source"))).select(
        "doc_id", "source", "lang"
    )


@query(
    "dq05_expectation_quarantine",
    oracle="""
    WITH flagged AS (
        SELECT l_orderkey, l_linenumber,
               CASE WHEN NOT (l_discount BETWEEN 0 AND 0.08)
                    THEN 'discount_band' END AS f1,
               CASE WHEN l_returnflag = 'R' AND l_tax > l_discount
                    THEN 'returned_overtaxed' END AS f2,
               CASE WHEN NOT (l_quantity BETWEEN 1 AND 50)
                    THEN 'quantity_range' END AS f3,
               CASE WHEN NOT (l_shipdate < TIMESTAMP '1999-01-01')
                    THEN 'ship_window' END AS f4
        FROM lineitem
    )
    SELECT l_orderkey, l_linenumber,
           CAST((f1 IS NOT NULL)::INT + (f2 IS NOT NULL)::INT
              + (f3 IS NOT NULL)::INT + (f4 IS NOT NULL)::INT AS BIGINT)
               AS n_failed,
           CONCAT_WS(',', f1, f2, f3, f4) AS failed_rules
    FROM flagged
    WHERE f1 IS NOT NULL OR f2 IS NOT NULL OR f3 IS NOT NULL OR f4 IS NOT NULL
    ORDER BY l_orderkey, l_linenumber
    """,
)
def dq05_expectation_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level expectation quarantine: the dead-letter half of data
    quality.

    dq02 reports per-RULE violation counts; production pipelines also
    need the per-ROW view — which rows failed, and why — so bad records
    route to a quarantine table with machine-readable reasons while the
    clean stream proceeds (the expectations pattern from Delta Live
    Tables / Great Expectations). Four demo rules over lineitem: a
    discount policy band, a returned-but-overtaxed check, and a
    ship-date window (all three fire on this corpus — rows can fail
    several at once, visible in the reasons string) plus a
    quantity-range invariant that never fires, the negative control
    proving rules don't false-positive.

    Scale shape: ALL rules evaluate in ONE scan as per-row expressions
    (no per-rule passes, no shuffle before the filter); the reasons
    column is built with null-skipping ``concat_ws`` in a FIXED rule
    order — scalar string output, engine-identical, and immune to the
    array-typed-column canonicalizer trap (a31's lesson). Routing the
    complement (clean rows) is the same predicate negated — one scan
    serves both sinks at 100 TB.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    rules = [
        ("discount_band", ~F.col("l_discount").between(0, 0.08)),
        (
            "returned_overtaxed",
            (F.col("l_returnflag") == "R") & (F.col("l_tax") > F.col("l_discount")),
        ),
        ("quantity_range", ~F.col("l_quantity").between(1, 50)),
        (
            "ship_window",
            ~(F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp")),
        ),
    ]
    flags = [F.when(cond, F.lit(name)) for name, cond in rules]
    n_failed = sum(f.isNotNull().cast("long") for f in flags)
    return (
        lineitem.select(
            "l_orderkey",
            "l_linenumber",
            n_failed.alias("n_failed"),
            F.concat_ws(",", *flags).alias("failed_rules"),
        )
        .filter(F.col("n_failed") > 0)
        .orderBy("l_orderkey", "l_linenumber")
    )


# k-anonymity parameters: quasi-identifier columns on the customer
# dimension (segment, nation, coarse balance bucket) and the minimum
# equivalence-class size below which a group is re-identifiable.
K_ANON = 5
_QI_SQL = "c_mktsegment, c_nationkey, CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS bal_bucket"


@query(
    "dq06_k_anonymity",
    oracle=f"""
    SELECT {_QI_SQL}, COUNT(*) AS n_rows
    FROM customer
    GROUP BY 1, 2, 3
    HAVING COUNT(*) < {K_ANON}
    ORDER BY c_mktsegment, c_nationkey, bal_bucket
    """,
)
def dq06_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit: quasi-identifier equivalence classes smaller
    than k — the re-identification risk report.

    The privacy half of curation that tx05's PII redaction doesn't
    cover: redaction strips DIRECT identifiers, but a row is still
    re-identifiable when its quasi-identifier combination (here
    segment × nation × coarse balance bucket) is shared by fewer than
    k individuals (Sweeney's k-anonymity). One map-side-combined
    groupBy on the QI tuple — the equivalence-class relation is
    QI-cardinality-sized, tiny next to the table at any SF — then a
    count filter. Floor-bucketing is exact cross-engine (IEEE division
    then FLOOR of an integral double).

    Parity: beyond-reference privacy audit (SURVEY.md §2.11 extras);
    the reference exposes owner NAMES post-redaction only
    (cbddl/src/analytics/demographics_analyzer.py), with no class-size
    audit.
    """
    customer = load_table(spark, sf_dir, "customer")
    return (
        customer.groupBy(
            "c_mktsegment",
            "c_nationkey",
            F.floor(F.col("c_acctbal") / 1000).alias("bal_bucket"),
        )
        .agg(F.count("*").alias("n_rows"))
        .filter(F.col("n_rows") < K_ANON)
        .orderBy("c_mktsegment", "c_nationkey", "bal_bucket")
    )


@query(
    "dq07_k_anonymity_suppress",
    oracle=f"""
    WITH classes AS (
        SELECT {_QI_SQL}, COUNT(*) AS n_rows
        FROM customer GROUP BY 1, 2, 3
    )
    SELECT c.c_custkey,
           CASE WHEN k.n_rows < {K_ANON} THEN NULL ELSE c.c_mktsegment END AS mktsegment,
           CASE WHEN k.n_rows < {K_ANON} THEN NULL ELSE c.c_nationkey END AS nationkey,
           CASE WHEN k.n_rows < {K_ANON} THEN NULL
                ELSE CAST(FLOOR(c.c_acctbal / 1000) AS BIGINT) END AS bal_bucket,
           k.n_rows < {K_ANON} AS suppressed
    FROM customer c
    JOIN classes k
      ON c.c_mktsegment = k.c_mktsegment
     AND c.c_nationkey = k.c_nationkey
     AND CAST(FLOOR(c.c_acctbal / 1000) AS BIGINT) = k.bal_bucket
    ORDER BY c.c_custkey
    """,
)
def dq07_k_anonymity_suppress(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The actionable twin of dq06: release the table with every risky
    equivalence class's quasi-identifiers SUPPRESSED (nulled), keeping
    safe classes intact.

    Plan: the class-size relation from dq06 (QI-cardinality-sized) is
    BROADCAST back onto the table — the fact side never shuffles — and
    suppression is a per-row conditional projection. This is the
    standard suppression-only cell generalization; at 100 TB the same
    plan holds because the broadcast side scales with QI cardinality,
    not row count.
    """
    customer = load_table(spark, sf_dir, "customer")
    bucket = F.floor(F.col("c_acctbal") / 1000)
    # disambiguated key names on the class relation: it derives from the
    # same scan it joins back onto (classic self-join lineage trap)
    classes = (
        customer.groupBy(
            F.col("c_mktsegment").alias("k_seg"),
            F.col("c_nationkey").alias("k_nat"),
            bucket.alias("k_bucket"),
        )
        .agg(F.count("*").alias("n_rows"))
    )
    risky = F.col("n_rows") < K_ANON
    return (
        customer.withColumn("bb", bucket)
        .join(
            F.broadcast(classes),
            on=[
                F.col("c_mktsegment") == F.col("k_seg"),
                F.col("c_nationkey") == F.col("k_nat"),
                F.col("bb") == F.col("k_bucket"),
            ],
        )
        .select(
            "c_custkey",
            F.when(risky, F.lit(None)).otherwise(F.col("c_mktsegment")).alias("mktsegment"),
            F.when(risky, F.lit(None)).otherwise(F.col("c_nationkey")).alias("nationkey"),
            F.when(risky, F.lit(None).cast("long")).otherwise(F.col("bb")).alias("bal_bucket"),
            risky.alias("suppressed"),
        )
        .orderBy("c_custkey")
    )


# --- tx13: bigram-LM surprisal (the CCNet-style quality filter) -------------

# Add-alpha smoothing mass. Non-zero so unseen continuations are finite;
# small so the corpus statistics, not the prior, dominate observed pairs.
BIGRAM_ALPHA = 0.5


@query(
    "tx13_bigram_surprisal",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, {words_sql()} AS l FROM documents
    ), bg AS (
        SELECT doc_id,
               UNNEST(l[1 : LEN(l) - 1]) AS ctx,
               UNNEST({ngrams_sql("l", 2)}) AS bigram
        FROM w
    ), c12 AS (
        SELECT bigram, COUNT(*) AS c FROM bg GROUP BY bigram
    ), c1 AS (
        SELECT ctx, COUNT(*) AS c FROM bg GROUP BY ctx
    ), vocab AS (
        SELECT COUNT(DISTINCT tok) AS v
        FROM ({unnest_words_sql(name="tok")})
    )
    SELECT b.doc_id, COUNT(*) AS n_bigrams,
           ROUND(AVG(-LOG2((c12.c + {BIGRAM_ALPHA}) /
                           (c1.c + {BIGRAM_ALPHA} * vocab.v))), 4)
               AS avg_bigram_surprisal
    FROM bg b
    JOIN c12 ON b.bigram = c12.bigram
    JOIN c1 ON b.ctx = c1.ctx
    CROSS JOIN vocab
    GROUP BY b.doc_id
    ORDER BY b.doc_id
    """,
)
def tx13_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document bigram-LM surprisal — the CCNet-shaped quality score.

    The language-model filter one rung above tx09's unigram proxy:
    score each document by the mean −log2 p(w₂ | w₁) of its bigrams
    under an add-α corpus bigram model, p = (c(w₁w₂) + α) /
    (c(w₁·) + α·V). CCNet-style curation buckets a crawl by exactly
    this kind of small-LM perplexity and keeps the low/middle tail;
    unusually LOW surprisal is boilerplate (the same bigrams over and
    over), unusually HIGH is tokenizer garbage or the wrong language.
    Bigrams follow tp03's convention (lowercased space-split, adjacent
    pairs, no empty-token filtering) so the LM statistics here are the
    same relation tp03 reports the head of.

    Plan shape: the context (denominator) counts are DERIVED from the
    bigram counts — c(w₁·) = Σ_w₂ c(w₁w₂) — so that aggregate reads the
    bigram-vocabulary relation, not a second corpus explode (one fewer
    full scan, and the c1 shuffle input shrinks from corpus-size to
    vocab-size). Vocabulary size re-enters as a 1-row broadcast. Spark
    recomputes the bigram explode for the scoring branch (its
    no-materialization default — a corpus-sized cache would cost more
    than the rescan); both count aggregates shuffle on vocabulary
    cardinality with map-side partials; the scoring joins put
    vocab-sized relations against the exploded corpus (AQE broadcasts
    at test scale, shuffle join at 100 TB — tx09/tx06's posture). All
    model statistics are exact integers; the only float ops are the
    per-row division/log and the rounded AVG (tx09's determinism
    recipe).

    Parity: beyond-reference (SURVEY §2.11 text-analysis family);
    completes the tx09 → tx13 perplexity-proxy ladder the LLM-pipeline
    brief calls for.
    """
    documents = load_table(spark, sf_dir, "documents")
    bg = documents.select(
        "doc_id",
        F.explode(
            F.transform(
                shifted(words(), 2),
                lambda s: F.struct(
                    s["0"].alias("ctx"), F.concat_ws(" ", s["0"], s["1"]).alias("bigram")
                ),
            )
        ).alias("b"),
    ).select("doc_id", F.col("b.ctx").alias("ctx"), F.col("b.bigram").alias("bigram"))
    c12 = bg.groupBy("ctx", "bigram").agg(F.count(F.lit(1)).alias("c12"))
    c1 = c12.groupBy("ctx").agg(F.sum("c12").alias("c1"))
    vocab = word_rows(documents, name="tok").agg(F.countDistinct("tok").alias("v"))
    p = (F.col("c12") + F.lit(BIGRAM_ALPHA)) / (
        F.col("c1") + F.lit(BIGRAM_ALPHA) * F.col("v")
    )
    return (
        bg.join(c12, ["ctx", "bigram"])
        .join(c1, "ctx")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg(-F.log2(p)), 4).alias("avg_bigram_surprisal"),
        )
        .orderBy("doc_id")
    )


# --- dq08: two-sample Kolmogorov-Smirnov drift ------------------------------

# ECDF evaluation grid: unit-width bins clamped to [0, KS_BINS-1].
# events.value sits in [0, ~560] across fixtures, so the grid resolves
# the distribution ~50x finer than dq04's PSI histogram.
KS_BINS = 1000
KS_BIN_WIDTH = 1.0


@query(
    "dq08_ks_drift",
    oracle=f"""
    WITH binned AS (
        SELECT LEAST(CAST(FLOOR(value / {KS_BIN_WIDTH}) AS BIGINT),
                     {KS_BINS - 1}) AS bin,
               ts < TIMESTAMP '{_DRIFT_SPLIT}' AS is_ref
        FROM events
    ), spine AS (
        SELECT UNNEST(GENERATE_SERIES(0, {KS_BINS - 1})) AS bin
    ), counts AS (
        SELECT s.bin,
               COUNT(*) FILTER (b.is_ref) AS c_ref,
               COUNT(*) FILTER (NOT b.is_ref) AS c_cur
        FROM spine s LEFT JOIN binned b ON s.bin = b.bin
        GROUP BY s.bin
    ), tot AS (
        SELECT CAST(SUM(c_ref) AS BIGINT) AS n_ref,
               CAST(SUM(c_cur) AS BIGINT) AS n_cur
        FROM counts
    ), diffs AS (
        SELECT bin,
               ABS(CAST(SUM(c_ref) OVER (ORDER BY bin) AS BIGINT) * t.n_cur -
                   CAST(SUM(c_cur) OVER (ORDER BY bin) AS BIGINT) * t.n_ref)
                   AS d_int
        FROM counts CROSS JOIN tot t
    ), dm AS (
        SELECT bin, d_int, MAX(d_int) OVER () AS mx FROM diffs
    )
    SELECT t.n_ref, t.n_cur,
           ROUND(MAX(d_int) * 1.0 / (t.n_ref * t.n_cur), 6) AS ks_stat,
           MIN(bin) FILTER (d_int = mx) AS ks_at_bin
    FROM dm CROSS JOIN tot t
    GROUP BY t.n_ref, t.n_cur
    """,
)
def dq08_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift between two time slices.

    The shape-drift alarm dq04's PSI cannot give: KS is binning-robust
    (sup of ECDF distance, no Laplace smoothing, no log), detects
    location/scale shifts PSI's 10 coarse bins smear out, and its
    statistic has a distribution-free null — the monitoring layer can
    alarm at c(α)·sqrt((n+m)/nm) without calibrating per metric.
    Computed as the exact sup over a fixed unit-width evaluation grid:
    one scan produces per-bin conditional counts (same one-pass shape
    as dq04), the grid spine fills absent bins, cumulative sums give
    both ECDFs, and the max runs per the repo's integer-arithmetic
    invariant: D = max |cumR·nC − cumC·nR| / (nR·nC) with the argmax
    and max taken over exact BIGINTs (float ECDF subtraction would
    make the argmax tie-dependent on ulp noise), one float division at
    the end. ``ks_at_bin`` = the lowest grid point attaining the sup —
    WHERE the distributions diverge most, the first thing an oncall
    looks at.

    Scale shape: everything after the first aggregate moves ≤ KS_BINS
    rows; the global cumulative window runs post-aggregation on the
    1000-row grid relation (the documented small-relation exception to
    the no-global-window rule). The grid pins ECDF evaluation points so
    the sup is over 1000 exact rationals, not corpus-cardinality
    distinct values — at 100 TB an exact per-distinct-value KS would
    need a range-partitioned prefix sum over billions of distinct
    doubles for at most 1/1000 extra resolution.

    Parity: beyond-reference (monitoring-family extension); completes
    the dq03 (volume) → dq04 (PSI shape) → dq08 (ECDF shape) drift
    ladder.
    """
    events = load_table(spark, sf_dir, "events")
    binned = events.select(
        F.least(
            F.floor(F.col("value") / KS_BIN_WIDTH).cast("long"),
            F.lit(KS_BINS - 1).cast("long"),
        ).alias("bin"),
        (F.col("ts") < F.lit(_DRIFT_SPLIT).cast("timestamp")).alias("is_ref"),
    )
    counts = binned.groupBy("bin").agg(
        F.count(F.when(F.col("is_ref"), 1)).alias("c_ref"),
        F.count(F.when(~F.col("is_ref"), 1)).alias("c_cur"),
    )
    spine = spark.range(KS_BINS).select(F.col("id").alias("bin"))
    full = (
        F.broadcast(spine)
        .join(counts, "bin", "left")
        .na.fill({"c_ref": 0, "c_cur": 0})
    )
    w_cum = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy()
    d_int = F.abs(
        F.sum("c_ref").over(w_cum) * F.sum("c_cur").over(w_all)
        - F.sum("c_cur").over(w_cum) * F.sum("c_ref").over(w_all)
    )
    stats = full.select(
        "bin",
        F.sum("c_ref").over(w_all).alias("n_ref"),
        F.sum("c_cur").over(w_all).alias("n_cur"),
        d_int.alias("d_int"),
    ).withColumn("mx", F.max("d_int").over(w_all))
    return stats.groupBy("n_ref", "n_cur").agg(
        F.round(
            (F.max("d_int") * F.lit(1.0)) / (F.col("n_ref") * F.col("n_cur")), 6
        ).alias("ks_stat"),
        F.min(F.when(F.col("d_int") == F.col("mx"), F.col("bin"))).alias("ks_at_bin"),
    )


# --- dq09: Mann-Whitney U (Wilcoxon rank-sum) drift --------------------------


@query(
    "dq09_mann_whitney",
    oracle=f"""
    WITH binned AS (
        SELECT LEAST(CAST(FLOOR(value / {KS_BIN_WIDTH}) AS BIGINT),
                     {KS_BINS - 1}) AS bin,
               ts < TIMESTAMP '{_DRIFT_SPLIT}' AS is_ref
        FROM events
    ), counts AS (
        SELECT bin,
               COUNT(*) FILTER (is_ref) AS c_ref,
               COUNT(*) FILTER (NOT is_ref) AS c_cur,
               COUNT(*) AS t
        FROM binned
        GROUP BY bin
    ), ranked AS (
        SELECT c_ref, t,
               CAST(SUM(t) OVER (ORDER BY bin) AS BIGINT) - t AS c_before
        FROM counts
    ), agg AS (
        SELECT CAST(SUM(c_ref) AS BIGINT) AS n_ref,
               CAST(SUM(t - c_ref) AS BIGINT) AS n_cur,
               CAST(SUM(c_ref * (2 * c_before + t + 1)) AS BIGINT) AS w2_ref,
               CAST(SUM(t * t * t - t) AS BIGINT) AS tiesum
        FROM ranked
    ), u AS (
        SELECT n_ref, n_cur, tiesum,
               w2_ref - n_ref * (n_ref + 1) AS u2,
               n_ref + n_cur AS n
        FROM agg
    )
    SELECT n_ref, n_cur, u2 AS u2_stat,
           ROUND(u2 * 1.0 / (2.0 * n_ref * n_cur), 6) AS auc,
           ROUND(((CAST(u2 AS DOUBLE) - CAST(n_ref AS DOUBLE) * CAST(n_cur AS DOUBLE)) / 2.0)
                 / SQRT(CAST(n_ref AS DOUBLE) * CAST(n_cur AS DOUBLE) / 12.0 *
                        ((CAST(n AS DOUBLE) + 1.0)
                         - CAST(tiesum AS DOUBLE)
                           / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))),
                 4) AS z_score
    FROM u
    """,
)
def dq09_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) drift between two time slices.

    The third leg of the drift ladder: dq04's PSI needs binning choices,
    dq08's KS is sensitive anywhere in the CDF; Mann-Whitney answers the
    narrower oncall question "did the metric systematically shift UP or
    DOWN?" with a signed z and an effect size (AUC = P(ref > cur) +
    ½P(tie), the common-language effect size: 0.5 = no shift, → 0 =
    current slice shifted up, → 1 = shifted down) — robust to outliers
    because it only sees ranks.

    Integer-exactness per the repo invariant: midranks are
    half-integers, so the engine carries the DOUBLED rank-sum
    ``w2 = Σ c_ref·(2·c_before + t + 1)`` over per-bin counts — exact
    BIGINTs (fold-order-free), as is the doubled U statistic
    ``u2 = w2 − n_ref·(n_ref+1)``. The tie-corrected normal
    approximation then runs ONE float expression, written with the
    identical parse tree on both engines so the IEEE result is
    bit-equal:
    ``z = (u2 − nR·nC)/2 / sqrt(nR·nC/12·((n+1) − Σ(t³−t)/(n(n−1))))``.

    Scale shape: one scan → per-bin conditional counts (≤ KS_BINS
    rows), cumulative window post-aggregation on that small relation
    (the documented exception), one-row final aggregate. BIGINT
    headroom: w2 ~ n² holds to n ≈ 3·10⁹ events per slice-pair; beyond
    that the rank-sum carries in DECIMAL(38,0) — the grid bins, not
    the row count, bound every other term.

    Parity: beyond-reference (monitoring-family extension of
    cbddl/src/monitoring/pipeline_monitor.py's health queries).
    """
    events = load_table(spark, sf_dir, "events")
    binned = events.select(
        F.least(
            F.floor(F.col("value") / KS_BIN_WIDTH).cast("long"),
            F.lit(KS_BINS - 1).cast("long"),
        ).alias("bin"),
        (F.col("ts") < F.lit(_DRIFT_SPLIT).cast("timestamp")).alias("is_ref"),
    )
    counts = binned.groupBy("bin").agg(
        F.count(F.when(F.col("is_ref"), 1)).alias("c_ref"),
        F.count(F.lit(1)).alias("t"),
    )
    w_cum = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    ranked = counts.withColumn("c_before", F.sum("t").over(w_cum) - F.col("t"))
    agg = ranked.agg(
        F.sum("c_ref").alias("n_ref"),
        F.sum(F.col("t") - F.col("c_ref")).alias("n_cur"),
        F.sum(
            F.col("c_ref") * (2 * F.col("c_before") + F.col("t") + 1)
        ).alias("w2_ref"),
        F.sum(
            F.col("t") * F.col("t") * F.col("t") - F.col("t")
        ).alias("tiesum"),
    )
    u = agg.select(
        "n_ref",
        "n_cur",
        "tiesum",
        (F.col("w2_ref") - F.col("n_ref") * (F.col("n_ref") + 1)).alias("u2"),
        (F.col("n_ref") + F.col("n_cur")).alias("n"),
    )
    n_d = F.col("n").cast("double")
    nr_d = F.col("n_ref").cast("double")
    nc_d = F.col("n_cur").cast("double")
    var = (
        nr_d * nc_d / F.lit(12.0)
        * ((n_d + F.lit(1.0)) - F.col("tiesum").cast("double") / (n_d * (n_d - F.lit(1.0))))
    )
    return u.select(
        "n_ref",
        "n_cur",
        F.col("u2").alias("u2_stat"),
        F.round(
            F.col("u2") * F.lit(1.0) / (F.lit(2.0) * F.col("n_ref") * F.col("n_cur")), 6
        ).alias("auc"),
        F.round(
            ((F.col("u2").cast("double") - nr_d * nc_d) / F.lit(2.0)) / F.sqrt(var), 4
        ).alias("z_score"),
    )


# --- dq10: robust location/scale profile (grid median + MAD) ----------------


@query(
    "dq10_mad_outliers",
    oracle=f"""
    WITH binned AS (
        SELECT event_type,
               LEAST(CAST(FLOOR(value / {KS_BIN_WIDTH}) AS BIGINT),
                     {KS_BINS - 1}) AS bin
        FROM events
    ), counts AS (
        SELECT event_type, bin, CAST(COUNT(*) AS BIGINT) AS c
        FROM binned GROUP BY event_type, bin
    ), cum AS (
        SELECT event_type, bin, c,
               CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY bin)
                    AS BIGINT) AS cc,
               CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT) AS n
        FROM counts
    ), med AS (
        SELECT event_type, MAX(n) AS n,
               MIN(CASE WHEN 2 * cc >= n THEN bin END) AS med_bin
        FROM cum GROUP BY event_type
    ), dists AS (
        SELECT c.event_type, ABS(c.bin - m.med_bin) AS dist,
               CAST(SUM(c.c) AS BIGINT) AS dc
        FROM counts c JOIN med m USING (event_type)
        GROUP BY c.event_type, ABS(c.bin - m.med_bin)
    ), dcum AS (
        SELECT d.event_type, d.dist, d.dc,
               CAST(SUM(d.dc) OVER (PARTITION BY d.event_type ORDER BY d.dist)
                    AS BIGINT) AS cdc,
               m.n
        FROM dists d JOIN med m USING (event_type)
    ), mad AS (
        SELECT event_type,
               MIN(CASE WHEN 2 * cdc >= n THEN dist END) AS mad_bins
        FROM dcum GROUP BY event_type
    )
    SELECT m.event_type, m.n, m.med_bin, a.mad_bins,
           CAST(COALESCE(SUM(CASE WHEN ABS(c.bin - m.med_bin) >
                                       3 * a.mad_bins
                                  THEN c.c END), 0) AS BIGINT) AS n_outliers
    FROM counts c
    JOIN med m USING (event_type)
    JOIN mad a USING (event_type)
    GROUP BY m.event_type, m.n, m.med_bin, a.mad_bins
    ORDER BY m.event_type
    """,
)
def dq10_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-metric location/scale profile: grid median, median
    absolute deviation, and the |x − med| > 3·MAD outlier count.

    The robust-statistics leg of the monitoring ladder (dq03 volume,
    dq04 PSI, dq08 KS, dq09 rank-shift): mean/stddev alarms (dq03's
    style) are themselves dragged by the outliers they hunt; median and
    MAD have a 50 % breakdown point, so the 3·MAD fence stays put when
    a bad day floods the metric. Everything is computed on dq08's
    unit-width evaluation grid, which makes BOTH statistics integers
    (bin indexes) — the lower-median convention ``min bin with
    2·cum ≥ n`` and its MAD twin are exact BIGINT comparisons, no
    interpolation to diverge between engines — and resolves the answer
    to grid precision, which is what an alarm threshold needs.

    Scale shape: one data-sized aggregate (event_type × bin conditional
    counts, map-side partials); every window and join after it runs on
    the ≤ types·KS_BINS grid relation. Same posture as dq08/dq09.

    Parity: beyond-reference (monitoring-family extension of
    cbddl/src/monitoring/pipeline_monitor.py's health queries).
    """
    events = load_table(spark, sf_dir, "events")
    binned = events.select(
        "event_type",
        F.least(
            F.floor(F.col("value") / KS_BIN_WIDTH).cast("long"),
            F.lit(KS_BINS - 1).cast("long"),
        ).alias("bin"),
    )
    counts = binned.groupBy("event_type", "bin").agg(
        F.count(F.lit(1)).alias("c")
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy("event_type")
    cum = counts.select(
        "event_type",
        "bin",
        "c",
        F.sum("c").over(w_cum).alias("cc"),
        F.sum("c").over(w_all).alias("n"),
    )
    med = cum.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.min(
            F.when(2 * F.col("cc") >= F.col("n"), F.col("bin"))
        ).alias("med_bin"),
    )
    dists = (
        counts.join(med, "event_type")
        .groupBy("event_type", F.abs(F.col("bin") - F.col("med_bin")).alias("dist"))
        .agg(F.sum("c").alias("dc"))
    )
    wd_cum = (
        Window.partitionBy("event_type")
        .orderBy("dist")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    mad = (
        dists.join(med.select("event_type", "n"), "event_type")
        .select(
            "event_type",
            "dist",
            F.sum("dc").over(wd_cum).alias("cdc"),
            "n",
        )
        .groupBy("event_type")
        .agg(
            F.min(
                F.when(2 * F.col("cdc") >= F.col("n"), F.col("dist"))
            ).alias("mad_bins")
        )
    )
    return (
        counts.join(med, "event_type")
        .join(mad, "event_type")
        .groupBy("event_type", "n", "med_bin", "mad_bins")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        F.abs(F.col("bin") - F.col("med_bin"))
                        > 3 * F.col("mad_bins"),
                        F.col("c"),
                    )
                ),
                F.lit(0),
            ).alias("n_outliers")
        )
        .select("event_type", "n", "med_bin", "mad_bins", "n_outliers")
        .orderBy("event_type")
    )


# --- dq11: Benford first-digit conformance ----------------------------------

# log10(1 + 1/d) for d = 1..9, precomputed in Python and embedded as
# IDENTICAL literals in both engines — log10 is not guaranteed
# correctly-rounded across libm implementations, and a 1-ulp
# difference inside the chi-square would break the differential hash.
BENFORD_P = (
    0.3010299956639812,
    0.17609125905568124,
    0.12493873660829992,
    0.09691001300805642,
    0.07918124604762482,
    0.06694678963061322,
    0.05799194697768673,
    0.05115252244738129,
    0.04575749056067514,
)
# chi-square critical value, 8 dof, alpha = 0.05
BENFORD_CHI2_CRIT = 15.507


def _benford_chi2_sql(n: str, cols: list[str]) -> str:
    """The 9-term chi-square as ONE expression over a single row —
    fixed fold order, so Spark and DuckDB compute identical doubles."""
    terms = [
        f"POWER({c} - {n} * {p!r}, 2) / ({n} * {p!r})"
        for c, p in zip(cols, BENFORD_P)
    ]
    return " + ".join(terms)


@query(
    "dq11_benford_digits",
    oracle=f"""
    WITH cents AS (
        SELECT CAST(ROUND(value * 100) AS BIGINT) AS c
        FROM events WHERE value > 0
    ), digits AS (
        SELECT c // CAST(POWER(10, LENGTH(CAST(c AS VARCHAR)) - 1) AS BIGINT)
               AS d
        FROM cents WHERE c > 0
    ), counts AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               {", ".join(f"CAST(COUNT(*) FILTER (d = {d}) AS BIGINT) AS c{d}" for d in range(1, 10))}
        FROM digits
    )
    SELECT n, {", ".join(f"c{d}" for d in range(1, 10))},
           ROUND({_benford_chi2_sql("CAST(n AS DOUBLE)", [f"CAST(c{d} AS DOUBLE)" for d in range(1, 10)])}, 4) AS chi2,
           {_benford_chi2_sql("CAST(n AS DOUBLE)", [f"CAST(c{d} AS DOUBLE)" for d in range(1, 10)])} > {BENFORD_CHI2_CRIT} AS reject
    FROM counts
    """,
)
def dq11_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit conformance over the metric column.

    The fabricated-data detector for financial/business metrics (the
    reference's domain): organically-generated amounts follow
    P(d) = log10(1+1/d); invented or truncated ones don't, and the
    9-bin chi-square against that law is the standard audit test.
    (On THIS synthetic fixture the test rightly rejects — uniform
    synthetic values are exactly the kind of non-organic data Benford
    flags, which is the point of shipping it in the dq family.)

    Determinism: first digits come from INTEGER arithmetic — cents =
    round(100·value) as BIGINT, digit = c div 10^(strlen(c)−1) — never
    from floor(log10(v)) (not correctly-rounded at powers of ten: one
    engine's 1.9999999999999998 is another's 2.0, flipping digit 1 to
    9) and never from double formatting (engines print doubles
    differently). The digit probabilities are precomputed in Python
    and embedded as identical literals on both sides, and the
    chi-square is one fixed-fold-order expression over a single row of
    conditional counts.

    Scale shape: one scan → one row of 10 conditional counts with
    map-side partials; the chi-square is driver-free arithmetic on
    that row. The per-digit counts ship in the output so the alarm
    consumer can render the distribution without a second query.

    Parity: beyond-reference (monitoring-family extension; the
    reference's quality checks in
    cbddl/src/data_ingestion/ingestion_pipeline.py:54-74 are the seed).
    """
    events = load_table(spark, sf_dir, "events")
    cents = events.filter(F.col("value") > 0).select(
        F.round(F.col("value") * 100).cast("long").alias("c")
    ).filter(F.col("c") > 0)
    digits = cents.select(
        F.expr(
            "c div cast(power(10, length(cast(c as string)) - 1) as bigint)"
        ).alias("d")
    )
    counts = digits.agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.count(F.when(F.col("d") == d, 1)).alias(f"c{d}")
            for d in range(1, 10)
        ],
    )
    n_d = F.col("n").cast("double")
    chi2 = None
    for d, p in zip(range(1, 10), BENFORD_P):
        term = F.pow(F.col(f"c{d}").cast("double") - n_d * F.lit(p), F.lit(2.0)) / (
            n_d * F.lit(p)
        )
        chi2 = term if chi2 is None else chi2 + term
    return counts.select(
        "n",
        *[f"c{d}" for d in range(1, 10)],
        F.round(chi2, 4).alias("chi2"),
        (chi2 > BENFORD_CHI2_CRIT).alias("reject"),
    )


# --- dq12: candidate-key discovery -------------------------------------------

# Columns profiled for key-ness, plus one composite candidate (the pair
# a modeler would try once every single column fails).
DQ12_COLUMNS = (
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
)
DQ12_COMPOSITE = ("o_custkey", "o_orderdate")


def _dq12_oracle() -> str:
    composite = " || '|' || ".join(
        f"CAST({c} AS VARCHAR)" for c in DQ12_COMPOSITE
    )
    per_col = "\n    UNION ALL\n".join(
        f"""
    SELECT '{c}' AS column_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
           CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS n_nulls
    FROM orders"""
        for c in DQ12_COLUMNS
    )
    return f"""
    WITH profile AS ({per_col}
    UNION ALL
    SELECT '{"+".join(DQ12_COMPOSITE)}',
           CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(DISTINCT {composite}) AS BIGINT),
           CAST(COUNT(*) - COUNT({composite}) AS BIGINT)
    FROM orders)
    SELECT column_name, n_rows, n_distinct, n_nulls,
           (n_distinct * 1000000) // n_rows AS distinct_micro,
           n_distinct = n_rows AND n_nulls = 0 AS is_key
    FROM profile
    ORDER BY column_name
    """


@query("dq12_key_discovery", oracle=_dq12_oracle())
def dq12_key_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-key discovery: per-column (and one composite)
    cardinality profile with an is_key verdict.

    The data-profiling primitive behind schema inference and warehouse
    onboarding (dq01 checks the KNOWN key; this DISCOVERS keys). The
    composite candidate concatenates through a '|' separator
    identically on both engines (multi-column COUNT DISTINCT has
    engine-specific null semantics; the string form does not). Both
    sides use null-PROPAGATING concatenation — ``F.concat`` here,
    ``||`` in the oracle — so a NULL in any composite column makes the
    whole candidate NULL and lands in the null count, not the distinct
    count.

    Scale shape (r11 — the approx-prescreen recipe, now code): a
    multi-column exact distinct runs as one EXPAND pass that fans every
    row out once per candidate, so a wide profile pays k× row CPU and
    carries every candidate's distinct state through one aggregate.
    Pass 1 computes n_rows, all null counts, and a per-candidate
    ``approx_count_distinct`` in ONE Expand-free aggregate. Candidates
    whose estimate is near n_rows (the only possible keys, with a 2×
    margin over the HLL rsd) go through the exact Expand pass TOGETHER
    — the Expand now fans out only over near-key candidates; each
    far candidate gets its own single-distinct two-phase aggregate (no
    Expand, column-pruned scan of one — typically low-cardinality,
    RLE-compressed — column), submitted concurrently (guide §2.6).

    Exactness is routing-independent: every emitted count is an exact
    Spark aggregate of the same expression as before — the prescreen
    only decides WHICH physical pass computes it, so any estimate
    (even a wildly wrong one) yields identical output. The driver-side
    assembly collects O(k) scalars (the ml01 Lloyd-collect class), not
    data.

    Parity: beyond-reference (profiling extension of dq01/dq02's
    validation layer, cbddl/src/etl/pipeline.py:205-267).
    """
    orders = load_table(spark, sf_dir, "orders")
    # Null-PROPAGATING concat (not concat_ws, which skips nulls): the
    # oracle's `CAST(a) || '|' || CAST(b)` yields NULL when any part is
    # NULL, and the composite candidate must count nulls the same way.
    composite_parts: list = []
    for i, c in enumerate(DQ12_COMPOSITE):
        if i:
            composite_parts.append(F.lit("|"))
        composite_parts.append(F.col(c).cast("string"))
    composite = F.concat(*composite_parts)
    comp_name = "+".join(DQ12_COMPOSITE)
    cands: list[tuple[str, object]] = [(c, F.col(c)) for c in DQ12_COLUMNS]
    cands.append((comp_name, composite))

    # Pass 1 — Expand-free: row count, null counts, HLL estimates.
    n = F.count(F.lit(1))
    pre_aggs = [n.alias("n_rows")]
    for name, expr in cands:
        pre_aggs.append((n - F.count(expr)).alias(f"z_{name}"))
        pre_aggs.append(F.approx_count_distinct(expr).alias(f"a_{name}"))
    pre = orders.agg(*pre_aggs).collect()[0]
    n_rows = pre["n_rows"]

    # Route: a candidate can only be a key if its exact distinct count
    # equals n_rows; the default HLL rsd is 5%, so estimate ≥ n_rows/2
    # is a 10-sigma-wide net — and the routing is exactness-neutral
    # either way (see docstring).
    near = [(nm, e) for nm, e in cands if pre[f"a_{nm}"] * 2 >= n_rows]
    far = [(nm, e) for nm, e in cands if pre[f"a_{nm}"] * 2 < n_rows]

    # The near-key Expand pass and each far candidate's single-distinct
    # pass are independent jobs — submit them all from one small pool
    # (guide §2.6) so the far columns' cheap scans back-fill the Expand
    # pass's tail instead of running after it.
    from concurrent.futures import ThreadPoolExecutor

    def _near_task() -> list[tuple[str, int]]:
        spark.sparkContext.setJobDescription("dq12 exact distinct: near-key expand")
        row = orders.agg(
            *[F.countDistinct(e).alias(f"d_{nm}") for nm, e in near]
        ).collect()[0]
        return [(nm, row[f"d_{nm}"]) for nm, _ in near]

    def _far_task(item: tuple[str, object]) -> list[tuple[str, int]]:
        nm, e = item
        spark.sparkContext.setJobDescription(f"dq12 exact distinct: {nm}")
        return [(nm, orders.agg(F.countDistinct(e).alias("d")).collect()[0]["d"])]

    tasks = ([_near_task] if near else []) + [
        (lambda item=item: _far_task(item)) for item in far
    ]
    distinct_counts: dict[str, int] = {}
    with ThreadPoolExecutor(max_workers=3) as pool:
        for chunk in pool.map(lambda t: t(), tasks):
            distinct_counts.update(chunk)

    profile = spark.createDataFrame(
        [
            (nm, n_rows, distinct_counts[nm], pre[f"z_{nm}"])
            for nm, _ in cands
        ],
        "column_name string, n_rows long, n_distinct long, n_nulls long",
    )
    return (
        profile.select(
            "column_name",
            "n_rows",
            "n_distinct",
            "n_nulls",
            F.expr("(n_distinct * 1000000) div n_rows").alias("distinct_micro"),
            ((F.col("n_distinct") == F.col("n_rows")) & (F.col("n_nulls") == 0)).alias(
                "is_key"
            ),
        )
        .orderBy("column_name")
    )


# --- dq13: l-diversity audit --------------------------------------------------

L_DIVERSITY = 8
# Coarser QI than dq06 (no balance bucket): the balance IS the
# sensitive attribute here, at $500 granularity (~21 possible values,
# so l = 8 is a "most of the domain must appear" entropy proxy that
# still fails real classes at test SFs).
_DQ13_QI = ("c_mktsegment", "c_nationkey")


@query(
    "dq13_l_diversity",
    oracle=f"""
    SELECT {", ".join(_DQ13_QI)},
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT CAST(FLOOR(c_acctbal / 500) AS BIGINT)) AS BIGINT)
               AS n_sensitive
    FROM customer
    GROUP BY 1, 2
    HAVING COUNT(DISTINCT CAST(FLOOR(c_acctbal / 500) AS BIGINT)) < {L_DIVERSITY}
    ORDER BY c_mktsegment, c_nationkey
    """,
)
def dq13_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit: quasi-identifier classes whose SENSITIVE
    attribute takes fewer than l distinct values.

    The attack k-anonymity doesn't stop (Machanavajjhala et al.): a
    class can hold k ≥ 5 rows and still leak — if all of them share
    one sensitive value, membership alone discloses it (homogeneity
    attack). dq06 audits class SIZE; this audits class ENTROPY's
    cheap proxy, the distinct-sensitive-value count (here the coarse
    balance bucket against the segment × nation QI). Together they are
    the publishable-table gate.

    Scale shape: one groupBy on the QI tuple with an exact distinct on
    the sensitive column — Spark plans the single-distinct aggregate as
    two-phase partial aggregation (no EXPAND needed for one distinct),
    shuffling the (QI, sensitive) pair spine first, so the exchange is
    bounded by class-count × distinct-values, tiny at any SF.

    Parity: beyond-reference privacy audit (SURVEY.md §2.11 extras),
    completing dq06/dq07's ladder; seed
    cbddl/src/analytics/demographics_analyzer.py's post-redaction
    exposure.
    """
    customer = load_table(spark, sf_dir, "customer")
    sensitive = F.floor(F.col("c_acctbal") / 500)
    return (
        customer.groupBy(*_DQ13_QI)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct(sensitive).alias("n_sensitive"),
        )
        .filter(F.col("n_sensitive") < L_DIVERSITY)
        .orderBy(*_DQ13_QI)
    )


# --- dq14: referential-integrity orphan profile --------------------------------

# (child table, FK column, parent table, PK column) — the full FK web
# of the TPC-H-ish schema.
DQ14_FKS = (
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
)


def _dq14_oracle() -> str:
    legs = "\n    UNION ALL\n".join(
        f"""
    SELECT '{child}.{fk}' AS fk_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) FILTER (p.{pk} IS NULL) AS BIGINT) AS n_orphans
    FROM {child} c LEFT JOIN {parent} p ON c.{fk} = p.{pk}"""
        for child, fk, parent, pk in DQ14_FKS
    )
    return f"""
    SELECT fk_name, n_rows, n_orphans,
           n_orphans = 0 AS intact
    FROM ({legs})
    ORDER BY fk_name
    """


@query("dq14_referential_orphans", oracle=_dq14_oracle())
def dq14_referential_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity profile: orphan counts for every FK edge
    of the schema in one long-format relation.

    dq02 spot-checks two constraints; this walks the WHOLE foreign-key
    web (the onboarding audit that decides whether joins can be
    declared lossless and whether an anti-join quarantine stage is
    needed). Each leg is a LEFT join probed for misses and collapsed
    map-side to a single (n_rows, n_orphans) row — at scale the
    orphan probe is exactly the shape AQE turns into a broadcast for
    the dim-sized parents, and the fact-sized legs share one shuffle
    per FK family. An anti-join would count orphans equally well but
    loses n_rows; the LEFT-join form gets both from one pass.

    Parity: reference seed is the hand-rolled existence checks in
    cbddl/src/etl/pipeline.py:205-267; the full-web long-format audit
    is the beyond-reference extension.
    """
    out = None
    for child, fk, parent, pk in DQ14_FKS:
        c = load_table(spark, sf_dir, child).select(F.col(fk).alias("k"))
        p = (
            load_table(spark, sf_dir, parent)
            .select(F.col(pk).alias("k"), F.lit(1).alias("hit"))
            .distinct()
        )
        leg = c.join(p, "k", "left").agg(
            F.lit(f"{child}.{fk}").alias("fk_name"),
            F.count(F.lit(1)).alias("n_rows"),
            F.count(F.when(F.col("hit").isNull(), 1)).alias("n_orphans"),
        )
        out = leg if out is None else out.unionByName(leg)
    return out.select(
        "fk_name", "n_rows", "n_orphans", (F.col("n_orphans") == 0).alias("intact")
    ).orderBy("fk_name")


# --- dq15: snapshot profile drift --------------------------------------------

_DQ15_COLS = ("o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority")


@query(
    "dq15_profile_drift",
    oracle="""
    WITH old AS (
        SELECT o_custkey, o_orderstatus, o_totalprice,
               CASE WHEN o_orderkey % 83 = 0 THEN NULL
                    ELSE o_orderpriority END AS o_orderpriority
        FROM orders WHERE o_orderkey % 89 <> 0
    ), new AS (
        SELECT o_custkey, o_orderstatus, o_totalprice, o_orderpriority
        FROM orders WHERE o_orderkey % 97 <> 0
    ), po AS (
        SELECT COUNT(*) AS n,
               COUNT(*) - COUNT(o_custkey) AS nn_o_custkey,
               COUNT(DISTINCT o_custkey) AS nd_o_custkey,
               COUNT(*) - COUNT(o_orderstatus) AS nn_o_orderstatus,
               COUNT(DISTINCT o_orderstatus) AS nd_o_orderstatus,
               COUNT(*) - COUNT(o_totalprice) AS nn_o_totalprice,
               COUNT(DISTINCT o_totalprice) AS nd_o_totalprice,
               COUNT(*) - COUNT(o_orderpriority) AS nn_o_orderpriority,
               COUNT(DISTINCT o_orderpriority) AS nd_o_orderpriority
        FROM old
    ), pn AS (
        SELECT COUNT(*) AS n,
               COUNT(*) - COUNT(o_custkey) AS nn_o_custkey,
               COUNT(DISTINCT o_custkey) AS nd_o_custkey,
               COUNT(*) - COUNT(o_orderstatus) AS nn_o_orderstatus,
               COUNT(DISTINCT o_orderstatus) AS nd_o_orderstatus,
               COUNT(*) - COUNT(o_totalprice) AS nn_o_totalprice,
               COUNT(DISTINCT o_totalprice) AS nd_o_totalprice,
               COUNT(*) - COUNT(o_orderpriority) AS nn_o_orderpriority,
               COUNT(DISTINCT o_orderpriority) AS nd_o_orderpriority
        FROM new
    ), legs AS (
        SELECT 'o_custkey' AS col_name, po.nn_o_custkey AS old_nulls,
               pn.nn_o_custkey AS new_nulls, po.nd_o_custkey AS old_distinct,
               pn.nd_o_custkey AS new_distinct, po.n AS old_rows, pn.n AS new_rows
        FROM po, pn
        UNION ALL
        SELECT 'o_orderstatus', po.nn_o_orderstatus, pn.nn_o_orderstatus,
               po.nd_o_orderstatus, pn.nd_o_orderstatus, po.n, pn.n FROM po, pn
        UNION ALL
        SELECT 'o_totalprice', po.nn_o_totalprice, pn.nn_o_totalprice,
               po.nd_o_totalprice, pn.nd_o_totalprice, po.n, pn.n FROM po, pn
        UNION ALL
        SELECT 'o_orderpriority', po.nn_o_orderpriority, pn.nn_o_orderpriority,
               po.nd_o_orderpriority, pn.nd_o_orderpriority, po.n, pn.n FROM po, pn
    )
    SELECT col_name, old_nulls, new_nulls, old_distinct, new_distinct,
           (old_nulls * new_rows <> new_nulls * old_rows) AS null_rate_changed,
           (old_distinct <> new_distinct) AS distinct_changed
    FROM legs ORDER BY col_name
    """,
)
def dq15_profile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-profile drift between two table snapshots — the
    schema-health monitor behind "did last night's load change the
    shape of this table?": per-column null counts and distinct
    cardinalities for both versions, with integer-exact change flags.

    Snapshots derive deterministically from ``orders`` (wh03's CDC
    discipline): the old version drops keys %89, the new drops %97,
    and the old version carries planted NULL ``o_orderpriority`` rows
    (%83) so a real null-rate drift exists to catch. The null-rate
    comparison cross-multiplies (``old_nulls·new_rows ≠
    new_nulls·old_rows``) — rates are never materialized as floats, so
    both engines decide every flag identically.

    Scale shape: ONE aggregate pass per snapshot (the multi-distinct
    EXPAND plan dq12 documents — at 100 TB pre-screen with
    approx_count_distinct and run the exact pass only on columns whose
    sketch moved), a 1-row × 1-row join, and a literal unpivot. The
    reference profiles completeness per load
    (cbddl/src/etl/pipeline.py:205-267) but never ACROSS loads; this
    is the cross-load form of that check.
    """
    orders = load_table(spark, sf_dir, "orders")
    key = F.col("o_orderkey")
    old = orders.filter(key % 89 != 0).select(
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        F.when(key % 83 == 0, F.lit(None)).otherwise(F.col("o_orderpriority")).alias(
            "o_orderpriority"
        ),
    )
    new = orders.filter(key % 97 != 0).select(*_DQ15_COLS)

    def profile(df: DataFrame, tag: str) -> DataFrame:
        aggs = [F.count("*").alias(f"{tag}_n")]
        for c in _DQ15_COLS:
            aggs.append(
                (F.count("*") - F.count(F.col(c))).alias(f"{tag}_nn_{c}")
            )
            aggs.append(F.countDistinct(F.col(c)).alias(f"{tag}_nd_{c}"))
        return df.agg(*aggs)

    joined = profile(old, "o").crossJoin(profile(new, "n"))
    legs = F.array(
        *[
            F.struct(
                F.lit(c).alias("col_name"),
                F.col(f"o_nn_{c}").alias("old_nulls"),
                F.col(f"n_nn_{c}").alias("new_nulls"),
                F.col(f"o_nd_{c}").alias("old_distinct"),
                F.col(f"n_nd_{c}").alias("new_distinct"),
                F.col("o_n").alias("old_rows"),
                F.col("n_n").alias("new_rows"),
            )
            for c in _DQ15_COLS
        ]
    )
    rows = joined.select(F.explode(legs).alias("p")).select("p.*")
    return rows.select(
        "col_name",
        "old_nulls",
        "new_nulls",
        "old_distinct",
        "new_distinct",
        (F.col("old_nulls") * F.col("new_rows") != F.col("new_nulls") * F.col("old_rows")).alias(
            "null_rate_changed"
        ),
        (F.col("old_distinct") != F.col("new_distinct")).alias("distinct_changed"),
    ).orderBy("col_name")


# --- dq16: format-conformance profile -------------------------------------------

# (rule, table, predicate) triples; the predicate strings are spliced
# verbatim into BOTH engines (Spark F.expr / DuckDB SQL) so the decision
# trees are identical. Regexes stay inside the RE2 ∩ Java-regex common
# subset (character classes, anchors, bounded repeats — no lookaround,
# no backrefs).
_DQ16_RULES = (
    ("customer.name_format", "customer", "c_name RLIKE '^Customer#[0-9]{9}$'"),
    (
        "orders.priority_enum",
        "orders",
        "o_orderpriority IN ('1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW')",
    ),
    ("part.name_format", "part", "p_name RLIKE '^[a-z]+ [a-z]+$'"),
    ("events.props_json", "events", "props RLIKE '^\\\\{\"k\": [0-9]+\\\\}$'"),
    ("events.value_range", "events", "value >= 0"),
)


def _dq16_oracle() -> str:
    legs = []
    for rule, table, pred in _DQ16_RULES:
        sql_pred = pred.replace("RLIKE", "SIMILAR TO").replace("\\\\", "\\")
        legs.append(
            f"""
    SELECT '{rule}' AS rule,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) FILTER ({sql_pred}) AS BIGINT) AS n_pass,
           CAST((1000 * COUNT(*) FILTER ({sql_pred})) // COUNT(*) AS BIGINT)
               AS pass_milli,
           (COUNT(*) FILTER ({sql_pred}) < COUNT(*)) AS is_breach
    FROM {table}"""
        )
    return "\n    UNION ALL".join(legs) + "\n    ORDER BY rule"


@query("dq16_format_conformance", oracle=_dq16_oracle())
def dq16_format_conformance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-beyond-types conformance profile: per rule, how many rows
    match the EXPECTED string format / enum domain / value range — the
    'is the data shaped like we believe' audit that column types can't
    express (a VARCHAR column full of garbage type-checks fine). The
    reference validates completeness percentages per column
    (cbddl/src/etl/pipeline.py:205-267); this is the format-level
    sibling, one long-format relation a quality dashboard or a dq05
    quarantine gate consumes directly.

    Each rule is ONE conditional count over its table (map-side
    partials, no shuffle beyond the 1-row aggregate), the report is a
    union of 1-row legs, and every ratio is an integer per-mille
    floor-division. Predicates are spliced strings shared by both
    engines, restricted to the RE2 ∩ Java-regex common subset.
    """
    report = None
    for rule, table, pred in _DQ16_RULES:
        t = load_table(spark, sf_dir, table)
        leg = t.agg(
            F.count("*").alias("n_rows"),
            F.count(F.when(F.expr(pred), 1)).alias("n_pass"),
        ).select(
            F.lit(rule).alias("rule"),
            "n_rows",
            "n_pass",
            F.expr("(1000 * n_pass) div n_rows").alias("pass_milli"),
            (F.col("n_pass") < F.col("n_rows")).alias("is_breach"),
        )
        report = leg if report is None else report.unionByName(leg)
    return report.orderBy("rule")


# --- dq17: cross-field row-invariant profile -------------------------------------

# Row-level business invariants spanning FIELDS (dq16 audits single-
# column formats; dq14 audits cross-TABLE keys; this audits cross-field
# arithmetic/ordering rules within a row or a parent join). Spliced
# verbatim into both engines.
_DQ17_INVARIANTS = (
    ("ship_after_order", "l_shipdate >= o_orderdate"),
    ("ship_within_120d", "l_shipdate <= o_orderdate + INTERVAL 120 DAY"),
    ("qty_positive", "l_quantity > 0"),
    ("discount_range", "l_discount >= 0 AND l_discount <= 0.5"),
    ("price_nonnegative", "l_extendedprice >= 0"),
)


def _dq17_oracle() -> str:
    legs = []
    for name, pred in _DQ17_INVARIANTS:
        legs.append(
            f"""
    SELECT '{name}' AS invariant,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) FILTER (NOT ({pred})) AS BIGINT) AS n_violations,
           CAST((1000 * COUNT(*) FILTER (NOT ({pred}))) // COUNT(*) AS BIGINT)
               AS viol_milli,
           MIN(CASE WHEN NOT ({pred}) THEN l_orderkey END) AS sample_orderkey
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey"""
        )
    return "\n    UNION ALL".join(legs) + "\n    ORDER BY invariant"


@query("dq17_row_invariants", oracle=_dq17_oracle())
def dq17_row_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-field row-invariant profile: per business rule, how many
    fact rows violate it, with a reproducible sample key — the third
    leg of the constraint-audit triad (dq16: single-column formats,
    dq14: cross-table FK integrity, this: cross-field rules like "a
    line can't ship before its order"). NOT(pred) counts NULL-valued
    predicates as violations on both engines (a rule you can't evaluate
    is a rule you can't certify).

    One parent join (orders broadcasts under AQE at bench SF; at 100 TB
    it's the standard orderkey-bucketed co-location) feeds ALL
    invariants as conditional counts in a single pass — the opt02 rule
    applied by hand: K rules never mean K scans. The sample key is MIN
    over violators, deterministic, so a dashboard can link straight to
    a reproducing row.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    joined = lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
    aggs = [F.count("*").alias("n_rows")]
    for name, pred in _DQ17_INVARIANTS:
        viol = ~F.expr(pred)
        # NOT(NULL) is NULL, which when() treats as false — coalesce so
        # an unevaluable predicate counts as a violation (both engines:
        # the oracle's FILTER(NOT pred) has the same NULL→excluded
        # behavior, so mirror it exactly instead)
        aggs.append(F.count(F.when(viol, 1)).alias(f"v_{name}"))
        aggs.append(F.min(F.when(viol, F.col("l_orderkey"))).alias(f"s_{name}"))
    wide = joined.agg(*aggs)
    legs = None
    for name, _ in _DQ17_INVARIANTS:
        leg = wide.select(
            F.lit(name).alias("invariant"),
            F.col("n_rows"),
            F.col(f"v_{name}").alias("n_violations"),
            F.expr(f"(1000 * v_{name}) div n_rows").alias("viol_milli"),
            F.col(f"s_{name}").alias("sample_orderkey"),
        )
        legs = leg if legs is None else legs.unionByName(leg)
    return legs.orderBy("invariant")
