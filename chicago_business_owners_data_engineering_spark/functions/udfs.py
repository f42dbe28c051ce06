"""UDF surface demos (SURVEY.md §2.10 U1–U5).

Engine policy: every reference custom-Python op has a native
translation (the fast path, used by the operator registry). This module
keeps ONE working example per UDF flavor so the escape hatches are
exercised and documented:

- U1 scalar pandas_udf   — Arrow-vectorized combine_name (the
  reference's only true row-UDF, ingestion_pipeline.py:111-123);
- U2 grouped-agg pandas_udf — Shannon entropy as a real UDAF
  (demographics_analyzer.py:205-209); the native two-stage composition
  in operators/diversity.py is the production form;
- U3 applyInPandas       — per-group scoring (streaming_processor.py:
  522-532); production form is window functions (w06);
- U4 SQL-registered UDF  — keyword classifier callable from spark.sql
  (streaming_processor.py:285-307); production form is when/contains;
- U5 is natively explode (operators/text.py a18) — no UDTF needed.

Row-at-a-time ``F.udf`` is deliberately absent: at 100 TB it is never
the right tool.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import udtf

from ..catalog import load_table
from ..operators.shared_oracles import WS_TOKENS_SQL, md5_bucket_sql
from ..registry import query


@F.pandas_udf(T.StringType())
def combine_name_pandas(first: pd.Series, last: pd.Series) -> pd.Series:
    """U1: vectorized null-skipping name join (Arrow batches)."""
    def join(f, l):  # noqa: E741
        parts = [p for p in (f, l) if p is not None and str(p).strip() != ""]
        return " ".join(parts)

    return pd.Series([join(f, l) for f, l in zip(first, last)])


@F.pandas_udf(T.DoubleType())
def entropy_grouped_agg(values: pd.Series) -> float:
    """U2: Shannon entropy as a GROUPED_AGG pandas UDF (a true UDAF)."""
    counts = values.value_counts()
    p = counts / counts.sum()
    return float(round(-(p * p.map(math.log2)).sum(), 6))


def leadership_score_apply_in_pandas(df: DataFrame) -> DataFrame:
    """U3: per-group pandas scoring via applyInPandas.

    Production uses window functions (w06_group_scores); this keeps the
    grouped-map escape hatch exercised: one pandas frame per user_id,
    Arrow both ways.
    """

    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        diversity = pdf["event_type"].nunique() / n if n else 0.0
        return pd.DataFrame(
            {
                "user_id": [pdf["user_id"].iloc[0]],
                "n_events": [n],
                "diversity_score": [round(float(diversity), 6)],
            }
        )

    return df.groupBy("user_id").applyInPandas(
        score, schema="user_id long, n_events long, diversity_score double"
    )


def register_sql_udfs(spark: SparkSession) -> None:
    """U4: SQL-callable classifier — spark.sql('SELECT role_category(t) …')."""

    def role_category(title: str | None) -> str:
        if title is None:
            return "unknown"
        t = title.upper()
        if any(k in t for k in ("CEO", "PRESIDENT", "OWNER", "PRINCIPAL")):
            return "leadership"
        if any(k in t for k in ("MANAGER", "DIRECTOR")):
            return "management"
        return "staff"

    spark.udf.register("role_category", role_category, T.StringType())


@query(
    "u01_pandas_udf_combine",
    oracle="""
    SELECT c_custkey AS custkey,
           CONCAT_WS(' ', c_mktsegment, c_name) AS combined
    FROM customer
    """,
)
def u01_pandas_udf_combine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 exercised end-to-end: the Arrow-vectorized combine matches the
    native concat_ws semantics exactly (the oracle states the native
    form)."""
    customer = load_table(spark, sf_dir, "customer")
    return customer.select(
        F.col("c_custkey").alias("custkey"),
        combine_name_pandas(F.col("c_mktsegment"), F.col("c_name")).alias("combined"),
    )


@query(
    "u02_entropy_udaf",
    oracle="""
    WITH counts AS (
        SELECT source, lang, COUNT(*) AS cnt FROM documents GROUP BY source, lang
    ), totals AS (
        SELECT source, SUM(cnt) AS n FROM counts GROUP BY source
    )
    SELECT c.source,
           ROUND(-SUM((c.cnt * 1.0 / t.n) * LOG2(c.cnt * 1.0 / t.n)), 6) AS lang_entropy
    FROM counts c JOIN totals t ON c.source = t.source
    GROUP BY c.source
    """,
)
def u02_entropy_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2 exercised end-to-end: grouped-agg pandas-UDF entropy per
    source, checked against the closed-form SQL."""
    documents = load_table(spark, sf_dir, "documents")
    return documents.groupBy("source").agg(
        entropy_grouped_agg(F.col("lang")).alias("lang_entropy")
    )


@query("u03_apply_in_pandas_scores", oracle=None)  # grouped-map demo → rows-only check
def u03_apply_in_pandas_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U3 exercised end-to-end over events (see w06 for the native form)."""
    events = load_table(spark, sf_dir, "events")
    return leadership_score_apply_in_pandas(events)


@udtf(returnType="pos: bigint, tok: string")
class LongTokensUDTF:
    """Python UDTF (Spark 4 surface): one input row → N output rows.

    Emits (1-based position, token) for every token of length ≥ 6.
    U5's native twin is ``explode`` (a18); this is the programmable
    form for logic that genuinely can't be an expression — with the
    same caveat as every Python-worker path: rows cross the
    JVM↔Python boundary, so it's the slow path and stays OUT of hot
    queries (the oracle states the native/SQL-expressible semantics).
    """

    def eval(self, text: str):  # noqa: D102 — contract defined by Spark
        if text is None:
            return
        for i, t in enumerate(text.split(" ")):
            if len(t) >= 6:
                yield i + 1, t


@query(
    "u05_python_udtf",
    oracle=f"""
    WITH lists AS (
        SELECT doc_id, {WS_TOKENS_SQL} AS ts FROM documents
    ), toks AS (
        SELECT doc_id,
               UNNEST([{{'pos': i, 'tok': ts[i]}} FOR i IN RANGE(1, LEN(ts) + 1)],
                      recursive := true)
        FROM lists
    )
    SELECT doc_id, pos, tok FROM toks WHERE LENGTH(tok) >= 6
    """,
)
def u05_python_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF via LATERAL correlated table-function call.

    The row-multiplying UDF tier (UDTF) exercised end-to-end: register,
    then ``FROM documents d, LATERAL long_tokens_udtf(d.text)`` — the
    engine plans a Generate-style fan-out with the Python worker batched
    over Arrow. Differentially checked against the pure-SQL ordinality
    unnest, proving the UDTF's semantics are exactly the native
    explode-with-position (use THAT in production; this demonstrates
    the escape hatch for non-expressible generators).
    """
    documents = load_table(spark, sf_dir, "documents")
    documents.createOrReplaceTempView("__u05_documents")
    spark.udtf.register("long_tokens_udtf", LongTokensUDTF)
    return spark.sql(
        """
        SELECT d.doc_id, s.pos, s.tok
        FROM __u05_documents d, LATERAL long_tokens_udtf(d.text) s
        """
    )


# --- u06: Arrow-optimized scalar Python UDF -------------------------------------


@query(
    "u06_arrow_udf_bucket",
    oracle=f"""
    SELECT {md5_bucket_sql("CAST(doc_id AS VARCHAR)", 100)} AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY 1
    ORDER BY bucket
    """,
)
def u06_arrow_udf_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-optimized scalar Python UDF (Spark 4 `useArrow=True`),
    oracle-checked against the pure-SQL twin.

    Completes the UDF matrix (u01 pandas_udf, u02 grouped-agg UDAF,
    u03 applyInPandas, u04 SQL-registered, u05 UDTF) with the Spark
    3.5+/4.x arrow-batched SCALAR form: row-at-a-time Python
    semantics, Arrow columnar transfer — ~2-3× over pickled scalar
    UDFs without rewriting the function in pandas. The UDF body
    recomputes tp01's md5 bucket in pure Python (hashlib), so this
    query has a FULL differential oracle — unlike most UDF demos,
    correctness here isn't rows-only: the Python path must agree with
    the SQL md5/conv path bit for bit, which also certifies the
    portable-hash contract both engines rely on.

    The repo-wide rule stands: UDFs are the slow path (every hot-path
    operator uses built-ins — see PLANS.md's python-eval column);
    this family exists to cover the API surface and pin the
    performance-tier choices with tests.

    Parity: reference runs row-wise pandas .apply throughout its ETL
    (cbddl/src/etl/pipeline.py); this is the Spark-4 idiom for the
    same shape.
    """
    import hashlib

    from ..catalog import load_table

    @F.udf("long", useArrow=True)
    def md5_bucket_py(doc_id: int) -> int:
        return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16) % 100

    documents = load_table(spark, sf_dir, "documents")
    return (
        documents.select(md5_bucket_py("doc_id").alias("bucket"), "n_chars")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("bucket")
    )


@query(
    "u07_pandas_iter_udf",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS total_cents,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events
    GROUP BY event_type ORDER BY event_type
    """,
)
def u07_pandas_iter_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterator-of-series pandas UDF (SCALAR_ITER) — the last cell of
    the UDF matrix (u01 scalar pandas, u02 grouped-agg, u03 grouped
    map, u04 SQL-registered, u05 UDTF, u06 arrow scalar): the form for
    per-executor one-time setup (model load, dictionary mmap) amortized
    across every Arrow batch the worker sees, where a plain scalar
    pandas_udf would pay it per batch.

    The body converts value dollars to integer cents per batch (the
    setup here is trivially a constant — the SHAPE is what's under
    test), and the query aggregates per event type, so the Python path
    carries a FULL differential oracle against the SQL ROUND/CAST twin
    (the u06 discipline: API-surface demos still get hash-exact
    checks whenever their payload is arithmetic).

    Parity: beyond-reference (no streaming-batch UDF shape exists in
    the reference; the iterator form is the Spark idiom for its
    row-wise enrichments at scale).
    """
    from ..catalog import load_table

    # NB: Iterator/pd must be MODULE-level imports — postponed
    # annotations (PEP 563) stringify the hints and pandas_udf resolves
    # them against module globals, so function-local imports break the
    # SCALAR_ITER signature detection.
    @F.pandas_udf("long")
    def to_cents(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        scale = 100  # one-time setup slot (model/dict load in real use)
        for s in batches:
            yield (s * scale).round().astype("int64")

    events = load_table(spark, sf_dir, "events")
    return (
        events.select("event_type", to_cents("value").alias("cents"))
        .groupBy("event_type")
        .agg(F.sum("cents").alias("total_cents"), F.count("*").alias("n_events"))
        .orderBy("event_type")
    )


@query(
    "u08_apply_in_arrow",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS total_cents,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MIN(event_id) AS BIGINT) AS first_event_id,
           CAST(MAX(event_id) AS BIGINT) AS last_event_id
    FROM events
    GROUP BY event_type ORDER BY event_type
    """,
)
def u08_apply_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map ARROW UDF (``applyInArrow``, Spark 4) — the zero-
    pandas sibling of u03's grouped map: the whole group arrives as one
    ``pyarrow.Table`` and the body runs vectorized ``pyarrow.compute``
    kernels, skipping the Arrow→pandas→Arrow conversion a grouped
    ``applyInPandas`` pays on both edges. The form for per-group logic
    whose operations exist as Arrow kernels (sums, casts, sorts,
    dictionary ops) — at 100 TB the conversion tax is real money.

    The payload is integer-cents aggregation (ROUND half-away-from-zero
    to mirror SQL ROUND — pyarrow defaults to half-to-even, the one
    Arrow-vs-SQL trap in this cell), so the Python path carries a FULL
    differential oracle (the u06/u07 discipline).

    Parity: beyond-reference (completes the UDF matrix: u01 scalar
    pandas, u02 grouped-agg, u03 grouped map pandas, u04 SQL, u05
    UDTF, u06 Arrow scalar, u07 SCALAR_ITER, u08 Arrow grouped map).
    """
    from ..catalog import load_table

    events = load_table(spark, sf_dir, "events")
    return (
        events.select("event_type", "event_id", "value")
        .groupBy("event_type")
        .applyInArrow(
            arrow_cents_rollup,
            schema=ARROW_CENTS_ROLLUP_SCHEMA,
        )
        .orderBy("event_type")
    )


# Shared by u08 (batch) and the streaming foreachBatch twin
# (tests/test_round8_ops.py): both paths run the SAME Arrow kernel, so
# batch/streaming parity is structural, not re-implemented.
ARROW_CENTS_ROLLUP_SCHEMA = (
    "event_type string, total_cents long, n_events long,"
    " first_event_id long, last_event_id long"
)


def arrow_cents_rollup(table):
    """u08's per-group pyarrow payload (see u08_apply_in_arrow)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    cents = pc.cast(
        pc.round(pc.multiply(table["value"], pa.scalar(100.0)),
                 round_mode="half_towards_infinity"),
        pa.int64(),
    )
    return pa.table(
        {
            "event_type": [table["event_type"][0].as_py()],
            "total_cents": [pc.sum(cents).as_py()],
            "n_events": [table.num_rows],
            "first_event_id": [pc.min(table["event_id"]).as_py()],
            "last_event_id": [pc.max(table["event_id"]).as_py()],
        }
    )
