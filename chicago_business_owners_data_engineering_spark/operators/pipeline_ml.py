"""Training-data pipeline operators (SURVEY.md §2.11 extension).

The operations a large-scale LLM training-data pipeline runs between
raw crawl and tokenizer — deterministic splits, document chunking,
n-gram statistics, stratified sampling, sessionization, as-of joins,
grouping sets, embedding quantization. None exist in the reference
(its closest seeds are the word-extraction at
cbddl/src/analytics/demographics_analyzer.py:173-182 and the dedup
keys at cbddl/src/etl/pipeline.py:296,329); all are mandated by the
BASELINE.json north star and built Spark-first.

Every operator here is deterministic by construction (hash-based
ordering, explicit tie-breakers) so the DuckDB oracle hash is stable
across engines and cluster sizes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table, spread_scan
from ..functions.sampling import md5_bucket, md5_prefix, mixture_weight, split_label
from ..functions.text import WORDS_EXPR, hashed_tokens, ngrams, words, ws_tokens
from ..registry import query
from .shared_oracles import MIXTURE_WEIGHT_SQL, TRIGRAMS_SQL, WS_TOKENS_SQL, hashed_tokens_sql
from .shared_oracles import md5_bucket_sql, md5_prefix_sql, ngrams_sql, split_label_sql, words_sql

CHUNK_SIZE = 200
CHUNK_STRIDE = 150
SAMPLE_PER_STRATUM = 20
SESSION_GAP_S = 1800


# tp01's per-doc split bucket.
_DOC_BUCKET_SQL = md5_bucket_sql("CAST(doc_id AS VARCHAR)", 100)


@query(
    "tp01_hash_split",
    oracle=f"""
    SELECT doc_id, {_DOC_BUCKET_SQL} AS bucket, {split_label_sql(_DOC_BUCKET_SQL)} AS split
    FROM documents
    """,
)
def tp01_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/valid/test split by key hash.

    Pure projection — no shuffle, no state, no RNG; a row's split is a
    function of its key alone, so adding data never reassigns existing
    rows (the property that keeps eval sets uncontaminated across
    pipeline re-runs at 100 TB).
    """
    documents = load_table(spark, sf_dir, "documents")
    bucket = md5_bucket(F.col("doc_id"))
    return documents.select(
        "doc_id", bucket.alias("bucket"), split_label(bucket).alias("split")
    )


@query(
    "tp02_doc_chunks",
    oracle=f"""
    WITH n AS (
        SELECT doc_id, text,
               CASE WHEN n_chars <= {CHUNK_SIZE} THEN 1
                    ELSE CAST(CEIL((n_chars - {CHUNK_SIZE}) / {CHUNK_STRIDE}.0) AS BIGINT) + 1
               END AS n_chunks
        FROM documents
    )
    SELECT doc_id,
           UNNEST(GENERATE_SERIES(0, n_chunks - 1)) AS chunk_id,
           UNNEST([SUBSTRING(text, 1 + i * {CHUNK_STRIDE}, {CHUNK_SIZE})
                   FOR i IN GENERATE_SERIES(0, n_chunks - 1)]) AS chunk
    FROM n
    """,
)
def tp02_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (size 200 chars, stride 150).

    The context-window packer's front end: one row per (doc, chunk),
    generated with sequence+explode — a narrow map-side fan-out with no
    shuffle, so it streams at scan speed regardless of corpus size.
    Token-based chunking swaps substring for a slice of the tokenizer's
    output array; the plan shape is identical.
    """
    documents = load_table(spark, sf_dir, "documents")
    n_chunks = (
        F.when(F.col("n_chars") <= CHUNK_SIZE, F.lit(1).cast("long"))
        .otherwise(F.ceil((F.col("n_chars") - CHUNK_SIZE) / CHUNK_STRIDE) + 1)
    )
    return (
        documents.select(
            "doc_id",
            "text",
            F.explode(F.sequence(F.lit(0).cast("long"), n_chunks - 1)).alias("chunk_id"),
        )
        .select(
            "doc_id",
            "chunk_id",
            F.substring(
                F.col("text"), (F.col("chunk_id") * CHUNK_STRIDE + 1).cast("int"), CHUNK_SIZE
            ).alias("chunk"),
        )
    )


@query(
    "tp03_bigram_freq",
    oracle=f"""
    WITH w AS (SELECT {words_sql()} AS l FROM documents),
    bg AS (
        SELECT UNNEST({ngrams_sql("l", 2)})
            AS bigram
        FROM w
    )
    SELECT bigram, COUNT(*) AS count
    FROM bg
    GROUP BY bigram
    ORDER BY count DESC, bigram ASC
    LIMIT 50
    """,
)
def tp03_bigram_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram frequency, top-50 (the n-gram LM statistics pass).

    Bigrams come from zipping the word array with its shift — pure
    array ops in one codegen stage (see functions.text.shifted for why
    not transform-over-indices). The groupBy shuffles on bigram vocabulary
    cardinality, not corpus size; partial aggregation collapses each
    partition's counts first.
    """
    documents = spread_scan(load_table(spark, sf_dir, "documents"))
    return (
        documents.select(F.explode(ngrams(words(), 2)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("count"))
        .orderBy(F.desc("count"), F.asc("bigram"))
        .limit(50)
    )


@query(
    "tp04_stratified_sample",
    oracle=f"""
    SELECT lang, doc_id
    FROM (
        SELECT lang, doc_id,
               ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY MD5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS rn
        FROM documents
    )
    WHERE rn <= {SAMPLE_PER_STRATUM}
    """,
)
def tp04_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sample: k docs per language stratum.

    Hash-ordered row_number per stratum — reproducible across runs and
    engines where ``sampleBy`` is not, and exactly-k where Bernoulli
    sampling is approximate. One shuffle on the stratum key; at 100 TB
    the per-stratum sort is bounded by TakeOrdered semantics (rank ≤ k
    prunes in the partial aggregation).
    """
    documents = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(F.md5(F.col("doc_id").cast("string")), F.col("doc_id"))
    return (
        documents.select("lang", "doc_id", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= SAMPLE_PER_STRATUM)
        .select("lang", "doc_id")
    )


@query(
    "st01_sessionization",
    oracle=f"""
    WITH gaps AS (
        SELECT user_id, event_id, ts,
               LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        FROM events
    ),
    sess AS (
        SELECT user_id, event_id, ts,
               -- CAST: windowed SUM(int) is HUGEINT in DuckDB ->
               -- pandas float64; Spark emits int64 (driver dtype hash)
               CAST(SUM(CASE WHEN prev IS NULL
                             OR DATE_DIFF('second', prev, ts) > {SESSION_GAP_S}
                             THEN 1 ELSE 0 END)
                    OVER (PARTITION BY user_id ORDER BY ts, event_id)
                    AS BIGINT) AS session_id
        FROM gaps
    )
    SELECT user_id, session_id, COUNT(*) AS n_events,
           MIN(ts) AS session_start, MAX(ts) AS session_end
    FROM sess
    GROUP BY user_id, session_id
    """,
)
def st01_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity gap), batch form.

    The classic lag → new-session flag → running-sum session id →
    per-session rollup. All three windows share one partitioning
    (user_id), so Spark plans a single shuffle + sort reused across
    WindowExec and the final aggregation. The streaming twin is
    ``session_window`` in streaming/jobs.py; this batch form is the
    backfill path and oracle-checkable.
    """
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_s = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    new_sess = F.when(gap_s.isNull() | (gap_s > SESSION_GAP_S), 1).otherwise(0)
    with_sess = events.select(
        "user_id",
        "event_id",
        "ts",
        F.sum(new_sess).over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("session_id"),
    )
    return with_sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


@query(
    "j08_asof_join",
    oracle="""
    SELECT event_id, user_id, matched_order, matched_date
    FROM (
        SELECT e.event_id, e.user_id, o.o_orderkey AS matched_order,
               o.o_orderdate AS matched_date,
               ROW_NUMBER() OVER (
                   PARTITION BY e.event_id
                   ORDER BY o.o_orderdate DESC, o.o_orderkey DESC
               ) AS rn
        FROM events e
        JOIN orders o
          ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
    )
    WHERE rn = 1
    """,
)
def j08_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each event matched to the latest order at-or-before it.

    Spark has no ASOF JOIN operator; the naive rewrite (equi-join on
    key + inequality + argmax) materializes every (event, earlier
    order) pair before pruning — quadratic per key. This is the
    scalable form: union both sides tagged, one window sorted by
    (time, side, order key), ``last(..., ignorenulls)`` carries the
    most recent order forward onto each event row. One shuffle on the
    join key, linear in |events| + |orders|, skew-safe under AQE.
    Ties are pinned: orders sort before events at equal time (so
    "at-or-before" includes equality) and the max order key wins among
    same-timestamp orders.
    """
    events = load_table(spark, sf_dir, "events")
    orders = load_table(spark, sf_dir, "orders")
    order_side = orders.select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderdate").cast("timestamp").alias("t"),
        F.lit(0).alias("is_event"),
        F.lit(None).cast("long").alias("event_id"),
        F.col("o_orderkey").alias("okey"),
        F.col("o_orderdate").alias("odate"),
    )
    event_side = events.select(
        F.col("user_id").alias("k"),
        F.col("ts").alias("t"),
        F.lit(1).alias("is_event"),
        F.col("event_id"),
        F.lit(None).cast("long").alias("okey"),
        F.lit(None).cast("timestamp").alias("odate"),
    )
    w = (
        Window.partitionBy("k")
        .orderBy("t", "is_event", "okey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    merged = order_side.unionByName(event_side).select(
        "k",
        "is_event",
        "event_id",
        F.last("okey", ignorenulls=True).over(w).alias("matched_order"),
        F.last("odate", ignorenulls=True).over(w).alias("matched_date"),
    )
    return (
        merged.filter((F.col("is_event") == 1) & F.col("matched_order").isNotNull())
        .select(
            "event_id", F.col("k").alias("user_id"), "matched_order", "matched_date"
        )
    )


@query(
    "f21_grouping_sets",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS revenue_cents
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
    """,
)
def f21_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-granularity aggregate in one pass via GROUPING SETS.

    Beyond-reference (the reference materializes each granularity as a
    separate agg table — cbddl/src/etl/pipeline.py:479-565); grouping
    sets compute all three in a single shuffle with an expand node,
    reading the fact exactly once instead of once per granularity.
    """
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("__f21_orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               COUNT(*) AS n_orders,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS revenue_cents
        FROM __f21_orders
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
        """
    )


@query(
    "sim06_scalar_quantization",
    oracle="""
    WITH s AS (
        SELECT vec_id,
               LEN(embedding) AS n_dims,
               LIST_MAX(LIST_TRANSFORM(embedding, x -> ABS(CAST(x AS DOUBLE)))) / 127.0
                   AS scale
        FROM embeddings
    ),
    q AS (
        SELECT e.vec_id, s.n_dims, s.scale,
               LIST_MAX(
                   LIST_TRANSFORM(
                       e.embedding,
                       x -> ABS(CAST(x AS DOUBLE)
                                - FLOOR(CAST(x AS DOUBLE) / s.scale + 0.5) * s.scale)
                   )
               ) AS max_err
        FROM embeddings e JOIN s USING (vec_id)
    )
    SELECT vec_id, n_dims, ROUND(scale, 6) AS scale, ROUND(max_err, 6) AS max_err
    FROM q
    """,
)
def sim06_scalar_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization of embeddings + reconstruction error.

    The storage-side half of vector search at scale: per-vector
    symmetric scale (max-abs / 127), quantize, and report the max
    absolute reconstruction error. Pure array expressions — one
    codegen'd map stage, no shuffle, no UDF; 4× smaller vectors feed
    the IVF path (sim03) at the same recall for this corpus.
    """
    embeddings = load_table(spark, sf_dir, "embeddings")
    as_double = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    scale = F.array_max(F.transform(as_double, F.abs)) / 127.0
    with_scale = embeddings.select(
        "vec_id", as_double.alias("e"), F.size("embedding").alias("n_dims"), scale.alias("scale")
    )
    # floor(x + 0.5) rather than round(): engines disagree on round-half
    # ties (HALF_UP vs away-from-zero); floor+0.5 is bit-identical
    # everywhere, which keeps the quantizer reproducible across engines.
    err = F.array_max(
        F.transform(
            F.col("e"),
            lambda x: F.abs(x - F.floor(x / F.col("scale") + 0.5) * F.col("scale")),
        )
    )
    # Round in a separate select: putting round(scale) AS scale and the
    # err expression in ONE select makes err's `scale` resolve to the
    # freshly-aliased ROUNDED value via lateral column aliasing
    # (SPARK-27561 behavior), silently changing the quantizer.
    quant = with_scale.select("vec_id", "n_dims", "scale", err.alias("max_err"))
    return quant.select(
        "vec_id",
        "n_dims",
        F.round("scale", 6).alias("scale"),
        F.round("max_err", 6).alias("max_err"),
    )


PACK_BUDGET = 256  # tokens per packed context window


# tp05's bin assignment, which tp22 audits: per-doc token counts ``d``
# and the running-count bin of each doc.
_PACK_D_CTE = f"""d AS (
        SELECT doc_id, lang, LEN({WS_TOKENS_SQL}) AS n_tokens
        FROM documents
    )"""
_PACK_SQL = f"""SELECT doc_id, lang, n_tokens,
           CAST(FLOOR((SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id)
                       - n_tokens) / {PACK_BUDGET}.0) AS BIGINT) AS bin_id
    FROM d"""


@query("tp05_sequence_packing", oracle=f"WITH {_PACK_D_CTE} {_PACK_SQL}")
def tp05_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing: assign docs to ~fixed-token context bins.

    The LLM batch packer: within each shard (language here; any
    partition key in production), documents are packed in key order
    into bins of PACK_BUDGET tokens — bin id is the running token count
    before the doc, integer-divided by the budget. One window per
    shard partition (no global ordering, unlike naive packers), so the
    plan is a single shuffle on the shard key and scales with shard
    count. Deterministic: same data → same bins, any cluster size.
    """
    documents = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(ws_tokens())
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    with_tokens = documents.select("doc_id", "lang", n_tokens.alias("n_tokens"))
    cum_before = F.sum("n_tokens").over(w) - F.col("n_tokens")
    return with_tokens.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.floor(cum_before / PACK_BUDGET).alias("bin_id"),
    )


@query(
    "tp06_curation_report",
    oracle=f"""
    WITH scored AS (
        SELECT lang, source, n_chars,
               LEN({WS_TOKENS_SQL}) AS n_words,
               (n_chars BETWEEN 100 AND 500
                AND LEN({WS_TOKENS_SQL}) >= 20
                AND LENGTH(REGEXP_REPLACE(text, '[a-zA-Z0-9 ]', '', 'g'))
                    <= 0.1 * n_chars) AS keep
        FROM documents
    )
    SELECT lang, source,
           COUNT(*) AS n_docs,
           -- CASTs: DuckDB SUM(int) -> HUGEINT -> pandas float64, vs
           -- Spark int64; the driver's hash is dtype-sensitive.
           CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           ROUND(100.0 * SUM(CASE WHEN keep THEN 1 ELSE 0 END) / COUNT(*), 4)
               AS keep_pct,
           CAST(SUM(CASE WHEN keep THEN n_chars ELSE 0 END) AS BIGINT)
               AS kept_chars,
           ROUND(AVG(CASE WHEN keep THEN CAST(n_words AS DOUBLE) END), 6)
               AS avg_kept_words
    FROM scored
    GROUP BY lang, source
    """,
)
def tp06_curation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-curation yield report: quality gates + per-source stats,
    one scan.

    The pretraining-pipeline governance query: every document is scored
    against the keep criteria (length band, minimum words, symbol-ratio
    cap — the tx01 quality family as a boolean) and the per-(lang,
    source) report aggregates kept vs total WITHOUT a second scan or a
    self-join — the filter becomes a flag and every metric is a
    conditional aggregate over the same pass. At 100 TB this is the
    difference between one fact read and two; partial aggregation
    collapses each task to the (lang × source) group count.
    """
    documents = load_table(spark, sf_dir, "documents")
    n_words = F.size(ws_tokens())
    symbol_chars = F.length(F.regexp_replace(F.col("text"), "[a-zA-Z0-9 ]", ""))
    keep = (
        F.col("n_chars").between(100, 500)
        & (n_words >= 20)
        & (symbol_chars <= 0.1 * F.col("n_chars"))
    )
    return (
        documents.select(
            "lang",
            "source",
            "n_chars",
            n_words.alias("n_words"),
            keep.alias("keep"),
        )
        .groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("n_kept"),
            F.round(
                100.0 * F.sum(F.when(F.col("keep"), 1).otherwise(0)) / F.count("*"), 4
            ).alias("keep_pct"),
            F.sum(F.when(F.col("keep"), F.col("n_chars")).otherwise(0)).alias(
                "kept_chars"
            ),
            F.round(
                F.avg(F.when(F.col("keep"), F.col("n_words").cast("double"))), 6
            ).alias("avg_kept_words"),
        )
    )


# tp01's split bucket ``b`` and word list ``l`` per doc (``labeled``) and
# its distinct word 3-grams (``shingled``): tp07 and tp17 (_split_trigrams).
_SPLIT_TRIGRAM_CTES = f"""labeled AS (
        SELECT doc_id, {_DOC_BUCKET_SQL} AS b, {words_sql()} AS l
        FROM documents
    ),
    shingled AS (
        SELECT DISTINCT doc_id, b, sh
        FROM (
            SELECT doc_id, b, UNNEST({TRIGRAMS_SQL}) AS sh
            FROM labeled
        )
    )"""


def _split_trigrams(documents: DataFrame) -> DataFrame:
    """``(doc_id, b, sh)``: each doc's split bucket and distinct word
    3-grams (``_SPLIT_TRIGRAM_CTES``' ``shingled``)."""
    from .dedup import _trigram_set

    return documents.select(
        "doc_id",
        md5_bucket(F.col("doc_id")).alias("b"),
        F.explode(_trigram_set(F.col("text"))).alias("sh"),
    )


@query(
    "tp07_contamination_check",
    oracle=f"""
    WITH {_SPLIT_TRIGRAM_CTES},
    train_sh AS (SELECT DISTINCT sh FROM shingled WHERE b < 80)
    SELECT e.doc_id,
           COUNT(*) AS n_shingles,
           -- CAST: HUGEINT->float64 vs Spark int64 (driver dtype hash)
           CAST(SUM(CASE WHEN t.sh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_overlapping,
           ROUND(100.0 * SUM(CASE WHEN t.sh IS NOT NULL THEN 1 ELSE 0 END) / COUNT(*), 4)
               AS contamination_pct
    FROM shingled e LEFT JOIN train_sh t ON e.sh = t.sh
    WHERE e.b >= 90
    GROUP BY e.doc_id
    """,
)
def tp07_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval contamination report: fraction of each held-out doc's
    word 3-gram shingles that appear anywhere in the train split.

    The governance query every pretraining pipeline runs before an
    eval is trusted. Splits come from the same deterministic md5
    bucketing as tp01 (so the check is stable across runs); shingles
    are slice-zip 3-grams (see tp03 for why not transform-over-index),
    deduplicated per doc; the overlap is a LEFT join of eval shingles
    against the distinct train-shingle set — a shuffle on the shingle
    key, linear in corpus size, with partial aggregation collapsing to
    one row per eval doc. At 100 TB join on ``xxhash64(shingle)``
    longs instead of strings (identical result modulo ~0 collision
    probability) and the train side becomes a bloom-filter-prunable
    build.
    """
    shingled = _split_trigrams(load_table(spark, sf_dir, "documents"))
    train_sh = shingled.filter(F.col("b") < 80).select("sh").distinct()
    eval_sh = shingled.filter(F.col("b") >= 90).select("doc_id", "sh")
    hit = train_sh.withColumn("hit", F.lit(1))
    return (
        eval_sh.join(hit, "sh", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(F.when(F.col("hit").isNotNull(), 1).otherwise(0)).alias(
                "n_overlapping"
            ),
            F.round(
                100.0
                * F.sum(F.when(F.col("hit").isNotNull(), 1).otherwise(0))
                / F.count("*"),
                4,
            ).alias("contamination_pct"),
        )
    )


TOKENS_PER_BUCKET = 64  # length-bucket width in (whitespace) tokens
WEIGHTED_PER_SOURCE = 25  # weighted sample size per source stratum


@query(
    "tp11_length_buckets",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               LEN({WS_TOKENS_SQL}) AS n_tokens,
               CAST(FLOOR(LEN({WS_TOKENS_SQL}) * 1.0 / {TOKENS_PER_BUCKET}) AS BIGINT) AS bucket
        FROM documents
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(MAX(n_tokens) AS BIGINT) AS max_tokens,
           CAST(CEIL(SUM(n_tokens) * 1.0 / ((bucket + 1) * {TOKENS_PER_BUCKET})) AS BIGINT)
               AS est_batches
    FROM toks
    GROUP BY bucket
    ORDER BY bucket
    """,
)
def tp11_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batch planning over the document corpus.

    Training loaders group sequences into length buckets so each batch
    pads to its bucket's ceiling instead of the global max (padding
    waste scales with intra-batch length variance). This is the
    planning query: docs and token mass per bucket, plus the batch
    count if every batch packs to the bucket ceiling — the numbers a
    scheduler needs to size epochs. One scan + one groupBy on the
    derived bucket key; token counting is whitespace ``size(split())``
    in codegen (tx02's tokenizer tier discusses the BPE-regex upgrade).
    """
    documents = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(ws_tokens())
    bucket = F.floor(n_tokens / TOKENS_PER_BUCKET)
    ceiling = (bucket + 1) * TOKENS_PER_BUCKET
    return (
        documents.select(
            bucket.alias("bucket"),
            n_tokens.alias("n_tokens"),
            ceiling.alias("ceil_tokens"),
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.max("n_tokens").alias("max_tokens"),
            F.ceil(F.sum("n_tokens") / F.first("ceil_tokens")).alias("est_batches"),
        )
        .orderBy("bucket")
    )


@query(
    "tp12_weighted_sample",
    oracle=f"""
    WITH pri AS (
        SELECT doc_id, source, n_chars,
               {md5_prefix_sql("CAST(doc_id AS VARCHAR)")} * 1.0 / n_chars AS priority
        FROM documents
    ), ranked AS (
        SELECT doc_id, source, n_chars, priority,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY priority, doc_id) AS rn
        FROM pri
    )
    SELECT source, doc_id, n_chars
    FROM ranked WHERE rn <= {WEIGHTED_PER_SOURCE}
    ORDER BY source, doc_id
    """,
)
def tp12_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted priority sample: k docs per source, longer
    docs proportionally more likely.

    Weighted mixture sampling without RNG: each doc's priority is a
    key-derived uniform (md5, as tp01) divided by its weight (n_chars
    here — any quality score works); taking the k lowest priorities
    per stratum over-selects high-weight docs, stays reproducible
    across runs/engines/partitionings, and is append-stable (a new doc
    cannot change an existing doc's priority, only displace the
    boundary). Division is IEEE-exact on both engines, so the ranks —
    unlike a pow/log-based A-ES key, whose libm last-ulp differences
    could flip near-ties — compare bit-identically. Same shuffle shape
    as tp04: one window per stratum with rank ≤ k pruning.
    """
    documents = load_table(spark, sf_dir, "documents")
    priority = md5_prefix(F.col("doc_id")) * F.lit(1.0) / F.col("n_chars")
    w = Window.partitionBy("source").orderBy(priority, F.col("doc_id"))
    return (
        documents.select("source", "doc_id", "n_chars", priority.alias("priority"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= WEIGHTED_PER_SOURCE)
        .select("source", "doc_id", "n_chars")
        .orderBy("source", "doc_id")
    )


SHUFFLE_SHARDS = 16  # output shards for the training-order shuffle
SHUFFLE_EPOCH = "e0"  # epoch salt: a new salt reshuffles the whole corpus


@query(
    "tp13_global_shuffle",
    oracle=f"""
    WITH keyed AS (
        SELECT doc_id, source,
               {md5_prefix_sql(f"'{SHUFFLE_EPOCH}:' || CAST(doc_id AS VARCHAR)")} AS k
        FROM documents
    )
    SELECT CAST(k % {SHUFFLE_SHARDS} AS BIGINT) AS shard,
           ROW_NUMBER() OVER (PARTITION BY k % {SHUFFLE_SHARDS}
                              ORDER BY k, doc_id) AS position,
           doc_id, source
    FROM keyed
    ORDER BY shard, position
    """,
)
def tp13_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible global shuffle: (shard, position) training order.

    Training runs need the corpus in a uniformly random order that is
    (a) identical across re-runs and engines, (b) reshuffleable per
    epoch, and (c) independent of input partitioning. A key-derived
    uniform (md5 over epoch-salted doc_id — tp01/tp12's portable-hash
    idiom) gives all three without RNG state: shard = key mod S,
    position = rank of key within the shard. Changing SHUFFLE_EPOCH
    permutes everything; appending docs never moves an existing doc to
    a different shard or changes relative order of old docs within a
    shard (new docs interleave by key), so resumable loaders stay
    valid.

    Scale shape: the window is partitioned by shard — one hash
    exchange into S partition groups, then a per-shard sort, which is
    exactly the physical work ``repartition(S, shard) +
    sortWithinPartitions(k)`` would do to WRITE the shards; there is no
    global sort and no single-partition window anywhere. At 100 TB the
    writer form streams each shard to its own file set and the
    in-shard sort spills per executor.
    """
    documents = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return (
        global_shuffle_assignment(documents, "doc_id")
        .select("shard", "position", "doc_id", "source")
        .orderBy("shard", "position")
    )


def global_shuffle_assignment(
    df: DataFrame, id_col: str = "doc_id", shards: int = SHUFFLE_SHARDS
) -> DataFrame:
    """Library form of tp13 over any keyed relation: appends (shard,
    position). The property test exercises THIS function, so key or
    tiebreak drift in the operator cannot silently lose the
    append-stability law."""
    salted = F.concat(F.lit(f"{SHUFFLE_EPOCH}:"), F.col(id_col).cast("string"))
    keyed = df.withColumn("k", md5_prefix(salted))
    w = Window.partitionBy(F.col("k") % shards).orderBy("k", id_col)
    return keyed.select(
        *df.columns,
        (F.col("k") % shards).alias("shard"),
        F.row_number().over(w).alias("position"),
    )


# tp14 imports DD06's shared component oracle; shared_oracles is
# registry-free, so this is safe at decoration time (unlike a peer
# operator-module import, which must stay lazy).
from .shared_oracles import DD06_COMPONENT_CTE as _TP14_COMPONENT_CTE

_GROUP_BUCKET_SQL = md5_bucket_sql("CAST(group_key AS VARCHAR)", 100)


@query(
    "tp14_leakage_safe_split",
    oracle=_TP14_COMPONENT_CTE
    + f"""
    , grouped AS (
        SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS group_key
        FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
    )
    SELECT doc_id, group_key, {_GROUP_BUCKET_SQL} AS bucket,
           {split_label_sql(_GROUP_BUCKET_SQL)} AS split
    FROM grouped ORDER BY doc_id
    """,
)
def tp14_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/10/10 split hashed on the NEAR-DUP COMPONENT, not the doc.

    tp01's per-doc hash split silently leaks: a document and its
    near-duplicate are independent hash draws, so ~20% of near-dup
    pairs straddle train/eval and the eval set measures memorization of
    training text. The fix is to make the split a function of the
    near-dup cluster: every doc maps to its dd06 component (docs with
    no near-dup edge are their own singleton group), and the md5 bucket
    is computed from that group key — co-members land in the same split
    BY CONSTRUCTION, and the property survives re-runs and appends
    exactly like tp01's (split is a pure function of content-derived
    keys, no RNG).

    Scale shape: dd06's LSH edge generation + component propagation
    (amortized across every consumer of the cluster relation), then one
    broadcast-sized left join of the (small — only docs WITH near-dups)
    component relation onto the corpus and a pure projection. The
    oracle replays the brute-force component definition, so the check
    also re-certifies the LSH edge recall end-to-end through the split.
    """
    from .dedup import neardup_components

    documents = load_table(spark, sf_dir, "documents")
    comp = neardup_components(spark, sf_dir)
    grouped = documents.select("doc_id").join(comp, "doc_id", "left").select(
        "doc_id", F.coalesce("component", "doc_id").alias("group_key")
    )
    bucket = md5_bucket(F.col("group_key"))
    return grouped.select(
        "doc_id", "group_key", bucket.alias("bucket"), split_label(bucket).alias("split")
    ).orderBy("doc_id")


TEMP_ALPHA_SCALE = 1_000_000  # integer weight unit for temperature mixing
TEMP_BUDGET = 1_000  # total docs in the mixed sample


@query(
    "tp15_temperature_mixture",
    oracle=f"""
    WITH counts AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM documents GROUP BY source
    ), weights AS (
        -- alpha = 0.5 temperature: weight = cnt^0.5, scaled to int64.
        SELECT source, cnt,
               CAST(FLOOR(SQRT(CAST(cnt AS DOUBLE)) * {TEMP_ALPHA_SCALE}) AS BIGINT) AS w
        FROM counts
    ), tot AS (
        SELECT CAST(SUM(w) AS BIGINT) AS wsum FROM weights
    ), targets AS (
        SELECT source, cnt, w, ({TEMP_BUDGET} * w) // wsum AS target
        FROM weights, tot
    ), ranked AS (
        SELECT d.doc_id, d.source, t.target,
               ROW_NUMBER() OVER (
                   PARTITION BY d.source
                   ORDER BY {md5_prefix_sql("CAST(d.doc_id AS VARCHAR)")}, d.doc_id) AS rn
        FROM documents d JOIN targets t ON d.source = t.source
    )
    SELECT doc_id, source, CAST(rn AS BIGINT) AS pick_rank
    FROM ranked WHERE rn <= target
    ORDER BY source, pick_rank
    """,
)
def tp15_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source mixing (α = 0.5): the multilingual
    α-sampling recipe, deterministic end to end.

    Proportional sampling lets the largest source drown the tail;
    uniform sampling starves it of its own signal. The standard
    compromise (the exponential-smoothing mix used for multilingual
    pretraining) samples source i proportionally to cnt_i^α — α = 0.5
    halves the log-gap between head and tail sources. tp08 mixes at
    FIXED per-source rates; this derives the rates from the corpus
    itself.

    Determinism discipline: weights are ``floor(sqrt(cnt)·10^6)`` int64
    (sqrt is IEEE-correctly-rounded on both engines, and the integer
    Σw avoids the order-dependent float SUM a naive normalization
    would hit); per-source quotas are integer ``budget·w div Σw``; and
    the within-source pick is tp12's RNG-free md5-priority rank, so the
    sample is append-stable per source: new docs only displace picks
    whose hash priority they beat, exactly like tp01's split
    stability.

    Scale shape: one corpus scan for counts (map-side combined), a
    broadcast of the handful of (source, quota) rows back onto the
    corpus, and one per-source window for the ranked pick — shuffle
    keyed on source; with skewed sources the rank is computable per
    shard + merge (tp13's grid form), documented not wired.
    """
    documents = load_table(spark, sf_dir, "documents")
    counts = documents.groupBy("source").agg(F.count("*").alias("cnt"))
    weights = counts.select(
        "source",
        "cnt",
        F.floor(F.sqrt(F.col("cnt").cast("double")) * TEMP_ALPHA_SCALE)
        .cast("long")
        .alias("w"),
    )
    tot = weights.agg(F.sum("w").alias("wsum"))
    targets = weights.crossJoin(F.broadcast(tot)).select(
        "source", F.expr(f"({TEMP_BUDGET} * w) div wsum").alias("target")
    )
    w = Window.partitionBy("source").orderBy(md5_prefix(F.col("doc_id")), F.col("doc_id"))
    return (
        documents.join(F.broadcast(targets), "source")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= F.col("target"))
        .select("doc_id", "source", F.col("rn").cast("long").alias("pick_rank"))
        .orderBy("source", "pick_rank")
    )


# --- tp16: DSIR-style importance resampling ----------------------------------

DSIR_BUCKETS = 128  # hashed-unigram feature-table size
DSIR_TARGET_LANG = "en"  # the "looks like the target distribution" corpus
DSIR_KEEP_MICRO = 500_000  # acceptance scale: ratio 1.0 → 50% keep rate
# tp16's per-doc md5-uniform acceptance draw in micro-units.
_DSIR_COIN_SQL = md5_bucket_sql("'dsir:' || CAST(s.doc_id AS VARCHAR)", 1_000_000)


@query(
    "tp16_dsir_resample",
    oracle=f"""
    WITH feat AS (
        {hashed_tokens_sql("documents", DSIR_BUCKETS)}
    ), raw_b AS (
        SELECT bucket, CAST(COUNT(*) AS BIGINT) AS c FROM feat GROUP BY bucket
    ), tgt_b AS (
        SELECT f.bucket, CAST(COUNT(*) AS BIGINT) AS c
        FROM feat f JOIN documents d USING (doc_id)
        WHERE d.lang = '{DSIR_TARGET_LANG}'
        GROUP BY f.bucket
    ), grid AS (
        SELECT range AS bucket FROM RANGE({DSIR_BUCKETS})
    ), smoothed AS (
        SELECT g.bucket,
               COALESCE(t.c, 0) + 1 AS t,
               COALESCE(r.c, 0) + 1 AS r
        FROM grid g
        LEFT JOIN tgt_b t ON g.bucket = t.bucket
        LEFT JOIN raw_b r ON g.bucket = r.bucket
    ), totals AS (
        SELECT SUM(t) AS tt, SUM(r) AS rr FROM smoothed
    ), wt AS (
        SELECT s.bucket,
               ((s.t * 1000000) // s.r * (SELECT rr FROM totals))
                   // (SELECT tt FROM totals) AS w
        FROM smoothed s
    ), scored AS (
        SELECT f.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(SUM(w.w) // COUNT(*) AS BIGINT) AS imp_micro
        FROM feat f JOIN wt w ON f.bucket = w.bucket
        GROUP BY f.doc_id
    )
    SELECT s.doc_id, d.lang, d.source, s.n_tokens, s.imp_micro, {_DSIR_COIN_SQL} AS u_micro
    FROM scored s JOIN documents d USING (doc_id)
    WHERE {_DSIR_COIN_SQL} < (s.imp_micro * {DSIR_KEEP_MICRO}) // 1000000
    ORDER BY s.doc_id
    """,
)
def tp16_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance resampling (linearized): re-weight the raw
    corpus toward the target distribution by hashed-unigram likelihood
    ratios, then keep each doc by a deterministic weight-proportional
    coin.

    Xie et al.'s DSIR recipe (Data Selection via Importance Resampling,
    2023) in its Spark-native integer form: hash tokens into
    DSIR_BUCKETS features (ml05's hashing trick), estimate the target
    (lang = 'en' here — any labeled exemplar set works) and raw bucket
    distributions with Laplace smoothing, give every bucket an integer
    micro-unit likelihood ratio

        w_b = ((t_b·10^6) div r_b · R) div T      (p̂_b / q̂_b in micros)

    and score each document by its token-AVERAGE ratio. The deliberate
    linearization: true DSIR multiplies per-token ratios (sums logs),
    but log/exp are libm calls whose last-ulp behavior differs between
    engines — not differentially testable — so the score is the
    arithmetic rather than geometric mean of the same per-token ratios,
    which preserves the ranking signal (target-like tokens ↑, off-target
    tokens ↓) in exact int64 arithmetic (target ⊆ raw ⇒ t_b ≤ r_b ⇒
    every product stays far below 2^63). Acceptance is an RNG-free
    Bernoulli: keep iff the doc's md5-uniform micro-draw falls under
    imp_micro · DSIR_KEEP_MICRO — reproducible across runs, engines,
    and partitionings, and append-stable (tp12's argument).

    Scale shape: the feature explode is map-side; the bucket relation is
    DSIR_BUCKETS rows (broadcast) and the totals are one more broadcast
    row; the only data-sized exchanges are the doc-keyed score aggregate
    and the final doc-keyed join back to documents. At 100 TB the
    exemplar fit runs once and is stored; scoring reads it — the plan
    here fits and scores in one job only so the oracle can replay it.

    Parity: beyond-reference (§2.11 mandate — importance-based data
    selection; quality-signal seed
    cbddl/src/data_ingestion/ingestion_pipeline.py:54-74).
    """
    documents = load_table(spark, sf_dir, "documents")
    scored = dsir_scores(documents)
    u_micro = md5_bucket(F.concat(F.lit("dsir:"), F.col("doc_id").cast("string")), 1_000_000)
    return (
        scored.join(documents.select("doc_id", "lang", "source"), "doc_id")
        .select(
            "doc_id",
            "lang",
            "source",
            "n_tokens",
            "imp_micro",
            u_micro.alias("u_micro"),
        )
        .filter(
            F.col("u_micro")
            < F.expr(f"imp_micro * {DSIR_KEEP_MICRO} div 1000000")
        )
        .orderBy("doc_id")
    )


def dsir_scores(documents: DataFrame) -> DataFrame:
    """The scoring core behind tp16: (doc_id, n_tokens, imp_micro).

    Takes any (doc_id, text, lang) relation so the exemplar set and
    the corpus can be pipeline intermediates; see tp16's docstring for
    the linearization and int64-exactness argument."""
    spark = documents.sparkSession
    # ``lang`` rides along the explode, so the fit is ONE explode pass
    # (raw and target-language counts as two conditional aggregates,
    # map-side partials on the bucket key) and scoring is the second —
    # no doc-keyed join of token-grain rows.
    feat = hashed_tokens(documents, DSIR_BUCKETS, "lang")
    both_b = feat.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("rc"),
        F.count(F.when(F.col("lang") == DSIR_TARGET_LANG, 1)).alias("tc"),
    )
    smoothed = (
        spark.range(DSIR_BUCKETS)
        .select(F.col("id").alias("bucket"))
        .join(F.broadcast(both_b), "bucket", "left")
        .select(
            "bucket",
            (F.coalesce(F.col("tc"), F.lit(0)) + 1).alias("t"),
            (F.coalesce(F.col("rc"), F.lit(0)) + 1).alias("r"),
        )
    )
    totals = smoothed.agg(
        F.sum("t").alias("tt"), F.sum("r").alias("rr")
    )
    wt = smoothed.crossJoin(F.broadcast(totals)).select(
        "bucket",
        F.expr("(t * 1000000) div r * rr div tt").alias("w"),
    )
    return (
        feat.join(F.broadcast(wt), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("w").alias("sum_w"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.expr("sum_w div n_tokens").alias("imp_micro"),
        )
    )


# --- tp17: train-side decontamination APPLY -----------------------------------


@query(
    "tp17_decontaminate_train",
    oracle=f"""
    WITH {_SPLIT_TRIGRAM_CTES},
    eval_sh AS (SELECT DISTINCT sh FROM shingled WHERE b >= 90),
    contaminated AS (
        SELECT DISTINCT s.doc_id
        FROM shingled s JOIN eval_sh e ON s.sh = e.sh
        WHERE s.b < 80
    ),
    counts AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles
        FROM shingled WHERE b < 80 GROUP BY doc_id
    )
    SELECT t.doc_id, COALESCE(c.n_shingles, 0) AS n_shingles
    FROM labeled t
    LEFT JOIN counts c ON t.doc_id = c.doc_id
    LEFT JOIN contaminated x ON t.doc_id = x.doc_id
    WHERE t.b < 80 AND x.doc_id IS NULL
    ORDER BY t.doc_id
    """,
)
def tp17_decontaminate_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontaminated TRAIN split: drop every train doc sharing a word
    3-gram with the held-out split (the GPT-3-style direction — tp07
    reports contamination per EVAL doc; production decontamination
    removes from TRAIN, because the eval set is the fixed yardstick).

    The check→apply symmetry the dd09/dd10 span pair established, for
    splits: same md5 buckets, same slice-zip shingles, deduplicated per
    doc; the eval shingle SET joins against train shingles
    (shingle-keyed shuffle), contaminated train ids deduplicate, and
    the train corpus ANTI-joins them. Shingle-less train docs (< 3
    words) cannot overlap by construction and survive with
    n_shingles = 0 — which is why survivors come from the full train
    relation, not from the shingled one.

    Scale shape: identical to tp07 up to the direction of the join —
    linear shingle explode, one shingle-keyed exchange, doc-keyed
    anti-join; at 100 TB join on xxhash64(shingle) longs and
    bloom-prune the train probe with the (much smaller) eval build
    side.

    Parity: beyond-reference (§2.11 mandate; governance seed
    cbddl/src/etl/pipeline.py:296,329 dedup keys).
    """
    documents = load_table(spark, sf_dir, "documents")
    shingled = _split_trigrams(documents)
    eval_sh = shingled.filter(F.col("b") >= 90).select("sh").distinct()
    train_sh = shingled.filter(F.col("b") < 80)
    contaminated = train_sh.join(eval_sh, "sh").select("doc_id").distinct()
    counts = train_sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    train = documents.filter(md5_bucket(F.col("doc_id")) < 80).select("doc_id")
    return (
        train.join(contaminated, "doc_id", "left_anti")
        .join(counts, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_shingles"), F.lit(0).cast("long")).alias("n_shingles"),
        )
        .orderBy("doc_id")
    )


# --- st02: last-touch attribution ----------------------------------------------


@query(
    "st02_last_touch_attribution",
    oracle="""
    WITH touched AS (
        SELECT event_type, value,
               LAST_VALUE(CASE WHEN event_type != 'purchase' THEN event_type END
                          IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS last_touch
        FROM events
    )
    SELECT COALESCE(last_touch, 'direct') AS channel,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
               AS revenue_cents
    FROM touched
    WHERE event_type = 'purchase'
    GROUP BY 1
    ORDER BY channel
    """,
)
def st02_last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch revenue attribution: every purchase credits the most
    recent preceding non-purchase event type in the same user journey
    ('direct' when nothing precedes).

    The attribution leg of the journey family (st01 cuts sessions,
    ts03 funnels, ts08 builds the transition matrix — this assigns the
    MONEY): one IGNORE-NULLS last_value window over the user journey,
    frame capped at 1 PRECEDING so a purchase never credits itself,
    ties inside a timestamp broken by event_id so the credit is a
    total function of the data. Revenue stays in integer cents (the
    er03 rule); both engines evaluate the identical window frame.

    Scale shape: one shuffle on user_id (journeys are user-local —
    the st01 argument), map-side partials on the tiny channel rollup
    after. No self-join: the AS-OF-style "latest preceding" is the
    window frame itself.

    Parity: beyond-reference (§2.11 journey-analytics extension; seed
    cbddl/src/api/main.py's event summaries).
    """
    events = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touched = events.select(
        "event_type",
        "value",
        F.last(
            F.when(F.col("event_type") != "purchase", F.col("event_type")),
            ignorenulls=True,
        )
        .over(w)
        .alias("last_touch"),
    )
    return (
        touched.filter(F.col("event_type") == "purchase")
        .groupBy(F.coalesce("last_touch", F.lit("direct")).alias("channel"))
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("revenue_cents"),
        )
        .orderBy("channel")
    )


# --- st03: ordered funnel conversion -----------------------------------------


@query(
    "st03_funnel_conversion",
    oracle="""
    WITH tv AS (
        SELECT user_id, MIN(ts) AS tv FROM events
        WHERE event_type = 'view' GROUP BY 1
    ), tc AS (
        SELECT e.user_id, MIN(e.ts) AS tc
        FROM events e JOIN tv ON e.user_id = tv.user_id
        WHERE e.event_type = 'click' AND e.ts >= tv.tv GROUP BY 1
    ), tp AS (
        SELECT e.user_id, MIN(e.ts) AS tp
        FROM events e JOIN tc ON e.user_id = tc.user_id
        WHERE e.event_type = 'purchase' AND e.ts >= tc.tc GROUP BY 1
    )
    SELECT '1_view' AS stage, COUNT(*) AS users FROM tv
    UNION ALL SELECT '2_click_after_view', COUNT(*) FROM tc
    UNION ALL SELECT '3_purchase_after_click', COUNT(*) FROM tp
    ORDER BY stage
    """,
)
def st03_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel conversion (view → click → purchase): how many
    users complete each stage IN ORDER — a click only counts after the
    user's first view, a purchase only after that qualifying click.

    The product-analytics sibling of st01 (sessions) and st02
    (attribution). Ordering is enforced by stage-chained conditional
    minima — stage k's timestamp is the user's earliest qualifying
    event at-or-after stage k-1's — not by a per-user sort: each stage
    is a filter + user-keyed MIN aggregate joined to the previous
    stage's relation, so all three stages ride the SAME user-keyed
    exchange (co-partitioned joins, no window, no per-user event
    arrays). Funnel width shrinks monotonically by construction, the
    invariant the pytest pins. At 100 TB the event scan is shared and
    each stage relation is one row per surviving user.

    Parity: the reference's dashboards count event types independently
    (cbddl/src/dashboard/enhanced_streamlit_app.py's event breakdowns);
    the ORDERED form is the beyond-reference extension.
    """
    events = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    tv = (
        events.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("tv"))
    )
    tc = (
        events.filter(F.col("event_type") == "click")
        .join(tv, "user_id")
        .filter(F.col("ts") >= F.col("tv"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("tc"))
    )
    tp = (
        events.filter(F.col("event_type") == "purchase")
        .join(tc, "user_id")
        .filter(F.col("ts") >= F.col("tc"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("tp"))
    )
    legs = [
        tv.agg(F.count("*").alias("users")).select(
            F.lit("1_view").alias("stage"), "users"
        ),
        tc.agg(F.count("*").alias("users")).select(
            F.lit("2_click_after_view").alias("stage"), "users"
        ),
        tp.agg(F.count("*").alias("users")).select(
            F.lit("3_purchase_after_click").alias("stage"), "users"
        ),
    ]
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out.orderBy("stage")


# --- st04: cohort retention matrix ---------------------------------------------


@query(
    "st04_cohort_retention",
    oracle="""
    WITH act AS (
        SELECT DISTINCT o_custkey AS custkey,
               EXTRACT(YEAR FROM o_orderdate) * 12
                   + EXTRACT(MONTH FROM o_orderdate) - 1 AS midx
        FROM orders
    ), cohort AS (
        SELECT custkey, MIN(midx) AS cidx FROM act GROUP BY custkey
    )
    SELECT LPAD(CAST(c.cidx // 12 AS VARCHAR), 4, '0')
               || LPAD(CAST(c.cidx % 12 + 1 AS VARCHAR), 2, '0') AS cohort_month,
           a.midx - c.cidx AS month_offset,
           CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM act a JOIN cohort c ON a.custkey = c.custkey
    GROUP BY 1, 2
    ORDER BY cohort_month, month_offset
    """,
)
def st04_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: customers grouped by first-activity
    month, counted in each subsequent month they return — the classic
    product-analytics readout behind every retention curve.

    Completes the behavioral family (st01 sessions, st02 attribution,
    st03 funnel): months become integer indices (year·12 + month − 1)
    so the offset subtraction is integer-exact; the cohort label
    rebuilds yyyyMM from the index with zero-padded string arithmetic
    shared by both engines (no date formatting of a synthetic date).

    Scale shape: distinct (customer, month) collapses the fact table
    map-side; the cohort MIN is a second aggregate on the SAME
    customer-keyed exchange, the join is customer-co-partitioned, and
    the final rollup is matrix-sized (cohorts × offsets). No window —
    MIN-per-key beats a row_number sort when only the minimum is
    needed.
    """
    orders = load_table(spark, sf_dir, "orders")
    act = orders.select(
        F.col("o_custkey").alias("custkey"),
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1).alias("midx"),
    ).distinct()
    cohort = act.groupBy("custkey").agg(F.min("midx").alias("cidx"))
    joined = act.join(cohort, "custkey")
    cohort_month = F.concat(
        F.lpad((F.col("cidx") / 12).cast("int").cast("string"), 4, "0"),
        F.lpad((F.col("cidx") % 12 + 1).cast("string"), 2, "0"),
    )
    return (
        joined.groupBy(
            cohort_month.alias("cohort_month"),
            (F.col("midx") - F.col("cidx")).alias("month_offset"),
        )
        .agg(F.count("*").alias("n_customers"))
        .orderBy("cohort_month", "month_offset")
    )


# --- tp20: cross-source duplication matrix --------------------------------------

from .shared_oracles import DD04_EXACT_PAIRS_SQL as _TP20_PAIRS_SQL  # noqa: E402


@query(
    "tp20_source_overlap_matrix",
    oracle=f"""
    WITH pairs AS ({_TP20_PAIRS_SQL})
    SELECT LEAST(da.source, db.source) AS src_a,
           GREATEST(da.source, db.source) AS src_b,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(AVG(p.jaccard), 6) AS avg_jaccard
    FROM pairs p
    JOIN documents da ON p.doc_a = da.doc_id
    JOIN documents db ON p.doc_b = db.doc_id
    GROUP BY 1, 2
    ORDER BY src_a, src_b
    """,
)
def tp20_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix: for every unordered source
    pair, how many ≥0.5-Jaccard near-dup pairs straddle it (and their
    mean similarity) — the curation readout that answers "which feeds
    are mirroring each other", the decision input for source-level
    dedup ordering and mixture down-weighting (tp08/tp15's weights).

    Composes dd04's banded near-dup pairs (never brute force) with two
    doc→source joins and a matrix-sized rollup; source labels are
    normalized with least/greatest so (A,B) and (B,A) land in one
    cell. The oracle rides the shared exact-pairs SQL (same recall
    certificate as dd04); avg_jaccard is a ROUND()ed mean of the
    already-rounded pair scores — identical input sets, identical
    fold on both engines at this cardinality.

    Parity: the reference dedups within one load and never attributes
    duplication to feeds; cross-feed accounting is the
    beyond-reference form (the multi-source story tp08 samples from).
    """
    from .dedup import _shingle_set, minhash_lsh_pairs

    documents = spread_scan(load_table(spark, sf_dir, "documents"))
    docs = documents.select("doc_id", _shingle_set(F.col("text")).alias("shingles"))
    pairs = minhash_lsh_pairs(docs, "doc_id", "shingles", threshold=0.5)
    src = documents.select("doc_id", "source")
    sa = src.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("source_a"))
    sb = src.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("source_b"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .groupBy(
            F.least("source_a", "source_b").alias("src_a"),
            F.greatest("source_a", "source_b").alias("src_b"),
        )
        .agg(
            F.count("*").alias("n_pairs"),
            F.round(F.avg("jaccard"), 6).alias("avg_jaccard"),
        )
        .orderBy("src_a", "src_b")
    )


# --- f27: time-to-convert percentiles -------------------------------------------


@query(
    "f27_time_to_convert",
    oracle="""
    WITH tv AS (
        SELECT user_id, MIN(ts) AS tv FROM events
        WHERE event_type = 'view' GROUP BY 1
    ), tp AS (
        SELECT e.user_id, MIN(e.ts) AS tp
        FROM events e JOIN tv ON e.user_id = tv.user_id
        WHERE e.event_type = 'purchase' AND e.ts >= tv.tv GROUP BY 1
    ), mins AS (
        SELECT CAST(DATE_DIFF('minute', tv.tv, tp.tp) AS BIGINT) AS m
        FROM tp JOIN tv ON tp.user_id = tv.user_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
           ROUND(QUANTILE_CONT(m, 0.25), 4) AS p25_min,
           ROUND(QUANTILE_CONT(m, 0.5), 4) AS p50_min,
           ROUND(QUANTILE_CONT(m, 0.75), 4) AS p75_min
    FROM mins
    """,
)
def f27_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: whole minutes from a user's first
    view to their first at-or-after purchase, summarized as exact
    interpolated quartiles — the latency readout attached to st03's
    funnel (how long the converted leg takes, not just how wide it is).

    Durations are integer minutes (truncated epoch-minute difference,
    mon03's idiom, ≡ DATE_DIFF('minute')); the quartiles use the
    a25-proven parity pair — Spark ``percentile`` is DuckDB
    QUANTILE_CONT bit-for-bit on integer inputs, ROUND()ed identically.
    Same user-keyed exchange family as st03; the percentile aggregate
    is the only ordered state and runs on the per-user relation, never
    raw events. At 100 TB swap ``percentile`` for ``percentile_approx``
    (t-digest) — same call shape, bounded memory (the a25 posture).
    """
    events = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    tv = (
        events.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("tv"))
    )
    tp = (
        events.filter(F.col("event_type") == "purchase")
        .join(tv, "user_id")
        .filter(F.col("ts") >= F.col("tv"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("tp"))
    )

    def epoch_minutes(col: str):
        return (
            F.unix_date(F.col(col).cast("date")).cast("long") * 1440
            + F.hour(col) * 60
            + F.minute(col)
        )

    mins = tp.join(tv, "user_id").select(
        (epoch_minutes("tp") - epoch_minutes("tv")).alias("m")
    )
    return mins.agg(
        F.count("*").alias("n_converted"),
        *[
            F.round(F.expr(f"percentile(m, {q})"), 4).alias(f"p{int(q * 100)}_min")
            for q in (0.25, 0.5, 0.75)
        ],
    )


# --- st05: RFM segmentation ------------------------------------------------------

RFM_BUCKETS = 5


@query(
    "st05_rfm_segments",
    oracle=f"""
    WITH head AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS head_day FROM orders),
    rfm AS (
        SELECT o_custkey AS custkey,
               DATE_DIFF('day', MAX(CAST(o_orderdate AS DATE)), h.head_day)
                   AS recency_days,
               CAST(COUNT(*) AS BIGINT) AS frequency,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS monetary_cents
        FROM orders, head h
        GROUP BY o_custkey, h.head_day
    ), scored AS (
        SELECT custkey, recency_days, frequency, monetary_cents,
               NTILE({RFM_BUCKETS}) OVER (ORDER BY recency_days ASC, custkey ASC) AS r,
               NTILE({RFM_BUCKETS}) OVER (ORDER BY frequency DESC, custkey ASC) AS f,
               NTILE({RFM_BUCKETS}) OVER (ORDER BY monetary_cents DESC, custkey ASC) AS m
        FROM rfm
    )
    SELECT CONCAT(CAST(r AS VARCHAR), CAST(f AS VARCHAR), CAST(m AS VARCHAR))
               AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(monetary_cents) AS BIGINT) AS segment_cents,
           CAST(MIN(custkey) AS BIGINT) AS sample_custkey
    FROM scored
    GROUP BY 1 ORDER BY segment
    """,
)
def st05_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation — the
    classic lifecycle-marketing rollup the reference's business
    analytics layer points toward (its owner-demographics tabulations
    are one-dimensional; RFM is the three-dimensional segment matrix).

    Each customer gets an NTILE quintile per dimension — bucket 1 =
    most recent / most frequent / highest spend — and the output is the
    segment matrix (counts + revenue per 'rfm' code). Every NTILE
    carries a TOTAL tie order (metric, custkey), because NTILE on a
    partial order is partition-arrival-dependent — the a30 determinism
    lesson applied to window buckets. Recency is an integer day diff
    against the corpus head (the mon03 freshness discipline), money is
    integer cents.

    Scale note: the three global NTILEs over the per-customer relation
    are single-partition windows over an already-aggregated input
    (|customers| rows, not facts); at 100 TB swap each for its
    percentile-bucket twin (ntile rank ≈ floor(percent_rank·k) computed
    per shard against broadcast global quantile fences) — the same
    refinement documented for tp10's curriculum ranks.
    """
    orders = load_table(spark, sf_dir, "orders")
    head = orders.agg(F.max(F.col("o_orderdate").cast("date")).alias("head_day"))
    rfm = (
        orders.crossJoin(F.broadcast(head))
        .groupBy(F.col("o_custkey").alias("custkey"), "head_day")
        .agg(
            F.datediff(
                F.first("head_day"), F.max(F.col("o_orderdate").cast("date"))
            ).alias("recency_days"),
            F.count("*").alias("frequency"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "monetary_cents"
            ),
        )
        .drop("head_day")
    )
    r_w = Window.orderBy(F.asc("recency_days"), F.asc("custkey"))
    f_w = Window.orderBy(F.desc("frequency"), F.asc("custkey"))
    m_w = Window.orderBy(F.desc("monetary_cents"), F.asc("custkey"))
    scored = rfm.select(
        "custkey",
        "monetary_cents",
        F.ntile(RFM_BUCKETS).over(r_w).alias("r"),
        F.ntile(RFM_BUCKETS).over(f_w).alias("f"),
        F.ntile(RFM_BUCKETS).over(m_w).alias("m"),
    )
    return (
        scored.groupBy(
            F.concat(
                F.col("r").cast("string"),
                F.col("f").cast("string"),
                F.col("m").cast("string"),
            ).alias("segment")
        )
        .agg(
            F.count("*").alias("n_customers"),
            F.sum("monetary_cents").alias("segment_cents"),
            F.min("custkey").alias("sample_custkey"),
        )
        .orderBy("segment")
    )


# --- st06: cohort LTV curve -------------------------------------------------------

LTV_MAX_OFFSET = 12


@query(
    "st06_cohort_ltv",
    oracle=f"""
    WITH om AS (
        SELECT o_custkey AS k,
               YEAR(o_orderdate) * 12 + MONTH(o_orderdate) - 1 AS mnum,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ), cohort AS (
        SELECT k, MIN(mnum) AS c0 FROM om GROUP BY k
    ), sized AS (
        SELECT c0, CAST(COUNT(*) AS BIGINT) AS cohort_size FROM cohort GROUP BY c0
    ), period AS (
        SELECT c.c0, o.mnum - c.c0 AS month_offset,
               CAST(SUM(o.cents) AS BIGINT) AS period_cents
        FROM om o JOIN cohort c ON o.k = c.k
        WHERE o.mnum - c.c0 <= {LTV_MAX_OFFSET}
        GROUP BY c.c0, o.mnum - c.c0
    )
    SELECT CONCAT(CAST(p.c0 // 12 AS VARCHAR), '-',
                  LPAD(CAST(p.c0 % 12 + 1 AS VARCHAR), 2, '0')) AS cohort_month,
           p.month_offset, s.cohort_size, p.period_cents,
           CAST(SUM(p.period_cents) OVER (PARTITION BY p.c0 ORDER BY p.month_offset
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_cents,
           CAST(SUM(p.period_cents) OVER (PARTITION BY p.c0 ORDER BY p.month_offset
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                // s.cohort_size AS BIGINT) AS ltv_cents
    FROM period p JOIN sized s ON s.c0 = p.c0
    ORDER BY cohort_month, p.month_offset
    """,
)
def st06_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curve: customers grouped by first-order
    month, cumulative revenue per cohort member tracked across the
    first 12 month offsets — the MONEY companion of st04's retention
    matrix (st04 counts who came back; this integrates what they spent,
    the curve a payback-period decision reads directly).

    Months are integer month numbers (year·12 + month − 1) so the
    offset arithmetic is exact on both engines (months_between returns
    fractional doubles — the documented trap this sidesteps); revenue
    is integer cents; the running LTV is a cohort-partitioned window
    over ≤13 offset rows per cohort, and ltv_cents is an integer
    floor-division by cohort size.

    Scale shape: one customer-keyed min (cohort assignment), one
    fact-sized join back on the customer key, one (cohort, offset)
    rollup — then windows over the bounded cohort×offset grid.
    """
    orders = load_table(spark, sf_dir, "orders")
    om = orders.select(
        F.col("o_custkey").alias("k"),
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1).alias("mnum"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    cohort = om.groupBy("k").agg(F.min("mnum").alias("c0"))
    sized = cohort.groupBy("c0").agg(F.count("*").alias("cohort_size"))
    period = (
        om.join(cohort, "k")
        .filter(F.col("mnum") - F.col("c0") <= LTV_MAX_OFFSET)
        .groupBy("c0", (F.col("mnum") - F.col("c0")).alias("month_offset"))
        .agg(F.sum("cents").alias("period_cents"))
    )
    w = (
        Window.partitionBy("c0")
        .orderBy("month_offset")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("period_cents").over(w)
    return (
        period.join(F.broadcast(sized), "c0")
        .select(
            F.concat(
                F.expr("cast(c0 div 12 as string)"),
                F.lit("-"),
                F.lpad((F.col("c0") % 12 + 1).cast("string"), 2, "0"),
            ).alias("cohort_month"),
            "month_offset",
            "cohort_size",
            "period_cents",
            cum.alias("cum_cents"),
            F.expr(
                "sum(period_cents) over (partition by c0 order by month_offset "
                "rows between unbounded preceding and current row) div cohort_size"
            ).alias("ltv_cents"),
        )
        .orderBy("cohort_month", "month_offset")
    )


# --- st07: first-order Markov transition matrix over session journeys --------

TRANS_GAP_S = SESSION_GAP_S  # a transition exists only inside one session


@query(
    "st07_markov_transitions",
    oracle=f"""
    WITH seq AS (
        SELECT user_id, event_type, ts, event_id,
               LEAD(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS next_type,
               LEAD(ts) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS next_ts
        FROM events
    ), trans AS (
        SELECT event_type AS from_type, next_type AS to_type,
               CAST(COUNT(*) AS BIGINT) AS n_trans
        FROM seq
        WHERE next_type IS NOT NULL
          AND DATE_DIFF('second', ts, next_ts) <= {TRANS_GAP_S}
        GROUP BY 1, 2
    )
    SELECT from_type, to_type, n_trans,
           CAST((1000 * n_trans) //
                SUM(n_trans) OVER (PARTITION BY from_type) AS BIGINT)
               AS p_milli
    FROM trans
    ORDER BY from_type, n_trans DESC, to_type
    """,
)
def st07_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over user journeys: for each
    ordered pair of event types, how often does one follow the other
    within a session, and with what conditional probability.

    The journey-model summary behind st02's attribution and st03's
    funnel: those fix a target path, this profiles ALL paths (which
    steps leak into which; the input to next-step prediction and to
    funnel design). A transition is two consecutive events of one user
    separated by ≤ the st01 session gap, so the matrix reconciles with
    the sessionization the rest of the st* family uses.

    Scale shape: one shuffle on user_id for the LEAD (same partitioning
    st01 reuses), then an aggregate whose key space is |event_types|² —
    bounded, tiny — and a window over that same bounded relation for
    the row-conditional denominator. Probabilities are integer
    per-mille floor-divisions of exact BIGINT counts (the mb01
    contract: no float crosses the engine boundary).
    """
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        F.col("event_type").alias("from_type"),
        "ts",
        F.lead("event_type").over(w).alias("to_type"),
        F.lead("ts").over(w).alias("next_ts"),
    )
    trans = (
        seq.filter(
            F.col("to_type").isNotNull()
            & (
                F.unix_timestamp("next_ts") - F.unix_timestamp("ts")
                <= TRANS_GAP_S
            )
        )
        .groupBy("from_type", "to_type")
        .agg(F.count("*").alias("n_trans"))
    )
    return trans.select(
        "from_type",
        "to_type",
        "n_trans",
        F.expr(
            "(1000 * n_trans) div sum(n_trans) over (partition by from_type)"
        ).alias("p_milli"),
    ).orderBy("from_type", F.desc("n_trans"), "to_type")


# --- tp21: hash-threshold eval panel (membership stable under growth) --------

PANEL_PERMILLE = 25  # ~2.5% of docs held out as the frozen eval panel


@query(
    "tp21_stable_eval_panel",
    oracle=f"""
    WITH tagged AS (
        SELECT source, doc_id,
               {md5_bucket_sql("CAST(doc_id AS VARCHAR)", 1000)} < {PANEL_PERMILLE} AS in_panel
        FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(CASE WHEN in_panel THEN 1 END) AS BIGINT) AS n_panel,
           CAST((1000 * COUNT(CASE WHEN in_panel THEN 1 END)) // COUNT(*)
                AS BIGINT) AS panel_permille,
           CAST(COALESCE(SUM(CASE WHEN in_panel THEN doc_id END), 0)
                AS BIGINT) AS panel_id_checksum
    FROM tagged
    GROUP BY source
    ORDER BY source
    """,
)
def tp21_stable_eval_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-THRESHOLD eval panel: a doc is in the held-out panel iff its
    md5 bucket falls under a fixed permille cut — so membership is a
    pure function of the key, and (unlike tp04/tp12's exactly-k
    samples) the panel of any corpus SUBSET is exactly the subset of
    the panel. That containment property is what a training pipeline
    needs from a frozen eval set: append a new crawl snapshot and every
    previously held-out doc is STILL held out (no eval→train leakage on
    growth), while the panel keeps pace with corpus size. tp14 keeps
    near-dup CLUSTERS split-coherent; this keeps the split itself
    append-stable. The property is pinned by a pytest (panel(prefix) ==
    panel(full) ∩ prefix).

    Output is the per-source audit an eval owner reviews: panel rate vs
    the nominal cut plus an exact membership checksum (Σ doc_id of
    panel members), so the driver hash pins WHICH docs are in the
    panel, not just how many. Pure projection + one source-keyed
    aggregate; no shuffle beyond it.
    """
    documents = load_table(spark, sf_dir, "documents")
    in_panel = md5_bucket(F.col("doc_id"), 1000) < PANEL_PERMILLE
    return (
        documents.select("source", "doc_id", in_panel.alias("in_panel"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.count(F.when(F.col("in_panel"), 1)).alias("n_panel"),
            F.expr(
                "(1000 * count(case when in_panel then 1 end)) div count(*)"
            ).alias("panel_permille"),
            F.coalesce(
                F.sum(F.when(F.col("in_panel"), F.col("doc_id"))), F.lit(0)
            ).alias("panel_id_checksum"),
        )
        .orderBy("source")
    )


# --- st08: top session paths ---------------------------------------------------------

PATH_LEN = 5  # journey prefix length
TOP_PATHS = 20


@query(
    "st08_session_paths",
    oracle=f"""
    WITH gaps AS (
        SELECT user_id, event_id, ts, event_type,
               LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        FROM events
    ), sess AS (
        SELECT user_id, event_id, ts, event_type,
               CAST(SUM(CASE WHEN prev IS NULL
                             OR DATE_DIFF('second', prev, ts) > {SESSION_GAP_S}
                             THEN 1 ELSE 0 END)
                    OVER (PARTITION BY user_id ORDER BY ts, event_id)
                    AS BIGINT) AS session_id
        FROM gaps
    ), firstn AS (
        SELECT user_id, session_id, ts, event_id, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id, session_id
                                  ORDER BY ts, event_id) AS rn
        FROM sess
    ), paths AS (
        SELECT user_id, session_id,
               STRING_AGG(event_type, '>' ORDER BY ts, event_id) AS path
        FROM firstn WHERE rn <= {PATH_LEN}
        GROUP BY user_id, session_id
    )
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
    FROM paths
    GROUP BY path
    ORDER BY n_sessions DESC, path ASC
    LIMIT {TOP_PATHS}
    """,
)
def st08_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top session JOURNEYS: the most common ordered event-type paths
    (first {PATH_LEN} steps of each st01 session), ranked by session
    count. st07 gives the pairwise transition matrix; this gives the
    full-path distribution — the "what do users actually do" table
    behind funnel design (st03 fixes one path, this discovers which
    paths are worth fixing).

    Ordering inside a path is made repartition-proof by sorting the
    collected (ts, event_id, type) structs IN the aggregate
    (array_sort on the struct's total order — event_id breaks ts
    ties), never relying on collect_list's arrival order, which is
    partitioning-dependent. Path cardinality is bounded by
    |event_types|^{PATH_LEN} in the worst case but concentrates hard
    in practice; the final count shuffles on the path string key.
    Windows and the path aggregate all share the user_id
    partitioning; TakeOrdered serves the top-N.
    """
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_s = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    new_sess = F.when(gap_s.isNull() | (gap_s > SESSION_GAP_S), 1).otherwise(0)
    sess = events.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.sum(new_sess).over(w.rowsBetween(Window.unboundedPreceding, 0)).alias(
            "session_id"
        ),
    )
    ws = Window.partitionBy("user_id", "session_id").orderBy("ts", "event_id")
    firstn = sess.withColumn("rn", F.row_number().over(ws)).filter(
        F.col("rn") <= PATH_LEN
    )
    paths = firstn.groupBy("user_id", "session_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("ts", "event_id", "event_type"))
                ),
                lambda s: s.event_type,
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), F.asc("path"))
        .limit(TOP_PATHS)
    )


# --- st09: DAU/MAU stickiness --------------------------------------------------------


@query(
    "st09_stickiness",
    oracle="""
    WITH du AS (
        SELECT DISTINCT STRFTIME(CAST(ts AS DATE), '%Y-%m') AS month,
               CAST(ts AS DATE) AS day, user_id
        FROM events
    ), dau AS (
        SELECT month, day, CAST(COUNT(*) AS BIGINT) AS dau
        FROM du GROUP BY month, day
    ), mau AS (
        SELECT month, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS mau
        FROM du GROUP BY month
    )
    SELECT d.month,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(d.dau) AS BIGINT) AS sum_dau,
           m.mau,
           CAST((1000 * SUM(d.dau)) // (COUNT(*) * m.mau) AS BIGINT)
               AS stickiness_milli
    FROM dau d JOIN mau m ON d.month = m.month
    GROUP BY d.month, m.mau
    ORDER BY d.month
    """,
)
def st09_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness per month: avg daily actives over monthly
    actives, the product-engagement ratio (a daily-habit product sits
    near 1000‰, a monthly-chore one near 33‰). Completes the activity
    ladder: ts18 measures the rolling WAU trend, st04 cohort retention,
    this the month-grain habit strength.

    The key subtlety both engines replay: DAU and MAU must come from
    the SAME deduplicated (month, day, user) relation — one distinct
    pass, two rollups (a user active 20 days counts once in MAU,
    20× in ΣDAU). Stickiness is the integer per-mille floor of
    ΣDAU/(days·MAU) — exact BIGINT cross-multiplication, no float
    average-of-averages. Shuffle posture: one exchange on the dedup
    key, then month-keyed (bounded) aggregates.
    """
    events = load_table(spark, sf_dir, "events")
    du = events.select(
        F.date_format("ts", "yyyy-MM").alias("month"),
        F.col("ts").cast("date").alias("day"),
        "user_id",
    ).distinct()
    dau = du.groupBy("month", "day").agg(F.count("*").alias("dau"))
    mau = du.groupBy("month").agg(F.countDistinct("user_id").alias("mau"))
    return (
        dau.join(F.broadcast(mau), "month")
        .groupBy("month", "mau")
        .agg(
            F.count("*").alias("n_days"),
            F.sum("dau").alias("sum_dau"),
            F.expr("(1000 * sum(dau)) div (count(*) * any_value(mau))").alias(
                "stickiness_milli"
            ),
        )
        .select("month", "n_days", "sum_dau", "mau", "stickiness_milli")
        .orderBy("month")
    )


# --- tp22: packing-efficiency audit --------------------------------------------------


@query(
    "tp22_pack_efficiency",
    oracle=f"""
    WITH {_PACK_D_CTE}, packed AS (
        {_PACK_SQL}
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT bin_id) AS BIGINT) AS n_bins,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST((1000 * SUM(n_tokens)) //
                (COUNT(DISTINCT bin_id) * {PACK_BUDGET}) AS BIGINT)
               AS fill_permille,
           CAST(COUNT(CASE WHEN n_tokens > {PACK_BUDGET} THEN 1 END) AS BIGINT)
               AS n_oversize
    FROM packed
    GROUP BY lang
    ORDER BY lang
    """,
)
def tp22_pack_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-efficiency audit for tp05's greedy packer: per shard,
    bins produced, average fill rate against the {PACK_BUDGET}-token
    budget, and how many documents individually exceed the budget
    (each forces a straddle/truncation downstream — the docs a
    chunking pass, tp02, should split first). The fill number is what
    decides whether a packer change pays: wasted context = (1000 −
    fill_permille)‰ of every training batch at 100 TB.

    Composes tp05's bin assignment (same window, same shard key — one
    exchange) with a shard-level rollup; everything integer, the
    fill ratio an exact BIGINT cross-multiplication.
    """
    packed = tp05_sequence_packing(spark, sf_dir)
    return (
        packed.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("bin_id").alias("n_bins"),
            F.sum("n_tokens").alias("total_tokens"),
            F.expr(
                f"(1000 * sum(n_tokens)) div (count(distinct bin_id) * {PACK_BUDGET})"
            ).alias("fill_permille"),
            F.count(F.when(F.col("n_tokens") > PACK_BUDGET, 1)).alias(
                "n_oversize"
            ),
        )
        .orderBy("lang")
    )


# --- tp24: epoch budgeting under a repetition cap -------------------------------

# Budget = TP24_BUDGET_X × corpus tokens (scale-free: the knob is the
# oversampling factor, not an absolute count); repetition capped at
# TP24_CAP_MILLI/1000 epochs per source (the data-constrained-scaling
# regime: repeating data beyond ~4 epochs returns ~nothing, so budget
# past the cap is STRANDED and must move to fresh sources).
TP24_BUDGET_X = 3
TP24_CAP_MILLI = 4000


@query(
    "tp24_epoch_budget",
    oracle=f"""
    WITH per_source AS (
        SELECT source,
               CAST(SUM(LEN({WS_TOKENS_SQL})) AS BIGINT) AS tokens
        FROM documents GROUP BY source
    ), weighted AS (
        SELECT source, tokens,
               {MIXTURE_WEIGHT_SQL} AS weight
        FROM per_source
    ), tot AS (
        SELECT CAST(SUM(tokens) AS BIGINT) AS t_all,
               CAST(SUM(weight * tokens) AS BIGINT) AS wt_all
        FROM weighted
    ), alloc AS (
        SELECT w.source, w.tokens, CAST(w.weight AS BIGINT) AS weight,
               ({TP24_BUDGET_X} * tot.t_all * w.weight * w.tokens) // tot.wt_all
                   AS alloc_tokens
        FROM weighted w CROSS JOIN tot
    )
    SELECT source, tokens, weight, alloc_tokens,
           LEAST((1000 * alloc_tokens) // tokens, {TP24_CAP_MILLI})
               AS epochs_milli,
           LEAST(alloc_tokens, ({TP24_CAP_MILLI} * tokens) // 1000)
               AS granted_tokens,
           alloc_tokens - LEAST(alloc_tokens, ({TP24_CAP_MILLI} * tokens) // 1000)
               AS stranded_tokens
    FROM alloc
    ORDER BY source
    """,
)
def tp24_epoch_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source epoch budgeting under a repetition cap — the
    data-constrained-scaling planner (Muennighoff et al. 2023: repeated
    epochs decay in value; pipelines cap repetition at ~4 epochs and
    must know how much of the token budget that cap STRANDS on small
    high-weight sources).

    Budget = {TP24_BUDGET_X}× the corpus token count, allocated
    ∝ weight·tokens (tp08's mixture weights), then clipped at
    {TP24_CAP_MILLI}/1000 epochs per source. ``stranded_tokens`` is
    the audit signal: budget the cap prevents spending — the amount a
    re-allocation pass (or new data acquisition) must cover.

    Every quantity is an exact BIGINT: token counts are the sizes of
    the single-space splits (tp09's shuffle-free count), the allocation is
    one integer cross-multiplication over a 1-row total, and the
    cap/min/subtraction chain never touches a float — Spark ``div``
    and DuckDB ``//`` agree on nonnegative operands.

    Scale shape: one source-keyed aggregate (map-side partials), a
    1-row total broadcast back onto the |sources|-row relation —
    no window, no explode, no second scan of the corpus.

    Parity: beyond-reference (§2.11 mandate — mixture planning;
    composes with tp08/tp09/tp15).
    """
    documents = load_table(spark, sf_dir, "documents")
    per_source = (
        documents.select("source", F.size(ws_tokens()).alias("n_tokens"))
        .groupBy("source")
        .agg(F.sum("n_tokens").alias("tokens"))
        .withColumn("weight", mixture_weight().cast("long"))
    )
    tot = per_source.agg(
        F.sum("tokens").alias("t_all"),
        F.sum(F.col("weight") * F.col("tokens")).alias("wt_all"),
    )
    cap_tokens = F.expr(f"({TP24_CAP_MILLI} * tokens) div 1000")
    return (
        per_source.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "tokens",
            "weight",
            F.expr(
                f"({TP24_BUDGET_X} * t_all * weight * tokens) div wt_all"
            ).alias("alloc_tokens"),
        )
        .select(
            "source",
            "tokens",
            "weight",
            "alloc_tokens",
            F.least(
                F.expr("(1000 * alloc_tokens) div tokens"),
                F.lit(TP24_CAP_MILLI).cast("long"),
            ).alias("epochs_milli"),
            F.least(F.col("alloc_tokens"), cap_tokens).alias("granted_tokens"),
            (
                F.col("alloc_tokens") - F.least(F.col("alloc_tokens"), cap_tokens)
            ).alias("stranded_tokens"),
        )
        .orderBy("source")
    )


@query(
    "st10_session_window_native",
    oracle=f"""
    WITH gaps AS (
        SELECT user_id, event_id, ts, value,
               LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        FROM events
    ),
    sess AS (
        SELECT user_id, event_id, ts, value,
               -- session_window merge rule (pinned by fixture test):
               -- an event at EXACTLY prev+gap still merges — Spark
               -- treats the window's upper bound as inclusive for
               -- merging — so a new session starts only when
               -- ts > prev + gap, at full timestamp precision (NOT
               -- truncated-seconds date_diff, which is where this
               -- differs from st01's rule on sub-second gaps)
               CAST(SUM(CASE WHEN prev IS NULL
                             OR ts > prev + INTERVAL {SESSION_GAP_S} SECOND
                             THEN 1 ELSE 0 END)
                    OVER (PARTITION BY user_id ORDER BY ts, event_id)
                    AS BIGINT) AS session_id
        FROM gaps
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL {SESSION_GAP_S} SECOND AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
    FROM sess
    GROUP BY user_id, session_id
    ORDER BY user_id, session_start
    """,
)
def st10_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization through Spark's NATIVE ``session_window`` batch
    aggregate — the declarative twin of st01's three-window
    gaps-and-islands build. One groupBy plans a single
    UpdatingSessionsExec + merging aggregate: the gap logic lives in
    the engine, the 100 TB plan is one user-keyed shuffle (no lag /
    flag / running-sum window chain), and the SAME expression runs
    unchanged under ``readStream`` with a watermark — which is the real
    reason the cell matters.

    Boundary semantics are pinned by fixture test: an event at EXACTLY
    prev+gap still merges (Spark's merge treats the window bound as
    inclusive — new session only when ts > prev+gap), measured at full
    timestamp precision, where st01's DATE_DIFF('second') rule
    truncates sub-second gaps. session_end here is last_event_ts + gap
    (the window's upper bound), not the last event time.

    Parity: reference sessionization
    (cbddl/src/big_data/streaming_processor.py windowed aggregations);
    st01 is the manual form, this is the engine-native cell.
    """
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(
            "user_id",
            F.session_window("ts", f"{SESSION_GAP_S} seconds").alias("sw"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias(
                "value_cents"
            ),
        )
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "value_cents",
        )
        .orderBy("user_id", "session_start")
    )


@query(
    "tp25_curriculum_phases",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id,
               LEN({words_sql()}) AS n_words,
               (1000 * LEN(LIST_DISTINCT({words_sql()})))
                   // LEN({words_sql()}) AS score
        FROM documents
    ), buckets AS (
        SELECT score, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_words) AS BIGINT) AS tok
        FROM scored GROUP BY score
    ), tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n FROM buckets),
    cum AS (
        SELECT score, n_docs, tok,
               CAST(SUM(n_docs) OVER (ORDER BY score DESC) AS BIGINT) AS cum_ge
        FROM buckets
    )
    SELECT CAST((4 * c.cum_ge + t.n - 1) // t.n AS BIGINT) AS phase,
           CAST(SUM(c.n_docs) AS BIGINT) AS n_docs,
           CAST(SUM(c.tok) AS BIGINT) AS token_sum,
           CAST(MIN(c.score) AS BIGINT) AS score_min,
           CAST(MAX(c.score) AS BIGINT) AS score_max
    FROM cum c CROSS JOIN tot t
    GROUP BY phase ORDER BY phase
    """,
)
def tp25_curriculum_phases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum-learning schedule: the corpus partitioned into 4
    quality-ordered training phases (highest lexical diversity first),
    with per-phase doc and token budgets — the ordering pass a staged
    pretraining run consumes.

    A global NTILE over (score, doc_id) would need one total sort of
    the corpus; instead the quality signal is an INTEGER milli-score on
    a bounded domain (0..1000), so phases come from a cumulative count
    over at most 1001 score buckets (a34's weighted-median discipline):
    per-score rollup -> descending cumulative -> phase = ceil(4·cum/n)
    in pure integer arithmetic. Equal-score docs land in the SAME phase
    by construction — the deterministic tie policy NTILE lacks — and
    the per-doc phase assignment is a broadcast-join of ≤1001 rows.

    Parity: beyond-reference (LLM-pipeline mandate; composes tx01's
    quality family with tp15/tp24's budget discipline).
    """
    documents = load_table(spark, sf_dir, "documents")
    scored = documents.select(
        "doc_id",
        F.size(words()).alias("n_words"),
        F.expr(
            f"(1000 * size(array_distinct({WORDS_EXPR}))) div size({WORDS_EXPR})"
        ).alias("score"),
    )
    buckets = scored.groupBy("score").agg(
        F.count("*").alias("n_docs"), F.sum("n_words").alias("tok")
    )
    w = Window.orderBy(F.desc("score")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = buckets.select(
        "score", "n_docs", "tok", F.sum("n_docs").over(w).alias("cum_ge")
    )
    tot = buckets.agg(F.sum("n_docs").alias("n"))
    return (
        cum.crossJoin(F.broadcast(tot))
        .select(
            F.expr("(4 * cum_ge + n - 1) div n").alias("phase"),
            "n_docs",
            "tok",
            "score",
        )
        .groupBy("phase")
        .agg(
            F.sum("n_docs").alias("n_docs"),
            F.sum("tok").alias("token_sum"),
            F.min("score").alias("score_min"),
            F.max("score").alias("score_max"),
        )
        .orderBy("phase")
    )
