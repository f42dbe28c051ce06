"""The composed curation funnel as a CHECKED registry query.

``run_curation_pipeline`` (plans/curation_pipeline.py) is the flagship
end-to-end job — it writes a curated corpus and a dataset card, so the
e2e test owns it. This module exposes the same stage chain as a
read-only registry entry whose dataset card is verified row-for-row
against a DuckDB replay of every stage: gate → model gate → exact
dedup → near dedup → mixture → split. The one flagship stage omitted
here is the containment sweep (dd13 verifies that machinery on its
own; its oracle tripled the statement size for zero new coverage).

Engine shape (r10): each stage output is pinned (lazy MEMORY_AND_DISK,
ring-released on the next call), so the 6-stage chain computes each
stage once instead of triangularly; the card is a stage-literal UNION
of the pinned survivor id-sets counted by one map-side-partial
aggregate, with a literal 9-row spine supplying zeros for empty
stages — no per-stage .count() jobs, no doc_id spine joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import generation, load_table

# Constants only, and only from the import-pure shared_oracles module:
# a module-level import of curation_pipeline (or any operator module)
# here closes a worker-side circular import — a Python worker
# unpickling a multimodal UDF imports multimodal -> registry -> this
# module -> curation_pipeline -> multimodal (partially initialized).
# The stage helpers are imported lazily inside the query body.
from ..operators.shared_oracles import (
    CURATION_FT_MIN_MICRO as FT_PIPELINE_MIN_MICRO,
    CURATION_MAX_DUP_TOKEN_FRAC as MAX_DUP_TOKEN_FRAC,
    CURATION_MAX_TOP_TOKEN_FRAC as MAX_TOP_TOKEN_FRAC,
    CURATION_MIN_TOKENS as MIN_TOKENS,
    MIXTURE_WEIGHT_SQL,
    NEARDUP_COMPONENT_CTES,
    REPETITION_STATS_SQL,
    SHINGLE_SQL,
    ft_feature_ctes,
    md5_bucket_sql,
    split_label_sql,
    words_sql,
)
from ..registry import query

_MD5_DOC = md5_bucket_sql("CAST(doc_id AS VARCHAR)", 100)
_MD5_SPLIT = md5_bucket_sql("CONCAT('split:', CAST(doc_id AS VARCHAR))", 100)

_TP23_ORACLE = f"""
    WITH RECURSIVE stats AS ({REPETITION_STATS_SQL}
    ), gated AS (
        SELECT d.doc_id, d.text, d.source, d.n_chars
        FROM documents d JOIN stats s USING (doc_id)
        WHERE s.n_tokens >= {MIN_TOKENS}
          AND s.dup_token_frac <= {MAX_DUP_TOKEN_FRAC}
          AND s.top_token_frac <= {MAX_TOP_TOKEN_FRAC}
    ), {ft_feature_ctes("gated")}, scorep AS (
        SELECT f.doc_id, (1000000 * SUM(w.w)) // COUNT(*) AS score_micro
        FROM feat f JOIN wt w USING (bucket) GROUP BY f.doc_id
    ), modeled AS (
        SELECT g.* FROM gated g JOIN scorep s USING (doc_id)
        WHERE s.score_micro >= {FT_PIPELINE_MIN_MICRO}
    ), exact AS (
        SELECT m.* FROM modeled m
        JOIN (SELECT MIN(doc_id) AS doc_id FROM modeled GROUP BY text) k
        USING (doc_id)
    ), sh AS (
        SELECT doc_id,
               {SHINGLE_SQL} AS ws
        FROM (SELECT doc_id, text, {words_sql()} AS t FROM exact)
    ), {NEARDUP_COMPONENT_CTES}, members AS (
        SELECT c.component, c.doc_id, e.n_chars FROM comp c JOIN exact e USING (doc_id)
    ), canonical AS (
        SELECT doc_id FROM (
            SELECT doc_id, ROW_NUMBER() OVER (
                PARTITION BY component ORDER BY n_chars DESC, doc_id ASC) AS rn
            FROM members) WHERE rn = 1
    ), near AS (
        SELECT * FROM exact WHERE doc_id NOT IN (
            SELECT doc_id FROM members
            WHERE doc_id NOT IN (SELECT doc_id FROM canonical))
    ), mixed AS (
        SELECT * FROM near
        WHERE {_MD5_DOC} < {MIXTURE_WEIGHT_SQL}
    ), splits AS (
        SELECT *, {split_label_sql(_MD5_SPLIT)} AS split FROM mixed
    )
    SELECT '0_raw' AS stage, CAST(COUNT(*) AS BIGINT) AS docs FROM documents
    UNION ALL SELECT '1_gated', CAST(COUNT(*) AS BIGINT) FROM gated
    UNION ALL SELECT '2_model_gate', CAST(COUNT(*) AS BIGINT) FROM modeled
    UNION ALL SELECT '3_exact_dedup', CAST(COUNT(*) AS BIGINT) FROM exact
    UNION ALL SELECT '4_near_dedup', CAST(COUNT(*) AS BIGINT) FROM near
    UNION ALL SELECT '5_mixture', CAST(COUNT(*) AS BIGINT) FROM mixed
    UNION ALL SELECT '6_train', CAST(COUNT(*) FILTER (split = 'train') AS BIGINT) FROM splits
    UNION ALL SELECT '6_valid', CAST(COUNT(*) FILTER (split = 'valid') AS BIGINT) FROM splits
    UNION ALL SELECT '6_test', CAST(COUNT(*) FILTER (split = 'test') AS BIGINT) FROM splits
    ORDER BY stage
"""


@query("tp23_pipeline_report", oracle=_TP23_ORACLE)
def tp23_pipeline_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset card for the composed curation funnel — every stage of
    the §2.11 flagship (minus the containment sweep, dd13-checked on
    its own) replayed and counted in ONE read-only job.

    The near-dedup stage runs the production MinHash-LSH edge path
    while the oracle derives components from brute-force exact
    Jaccard — so a green row here re-certifies end-to-end that the
    band parameters lose no component structure (the dd06 contract),
    now composed UNDER the gates and exact dedup rather than over the
    raw table.

    Scale shape: each stage output is pinned once (lazy
    MEMORY_AND_DISK, ring-released); the card unions the pinned
    survivor id-sets under stage-name literals and counts them in one
    map-side-partial aggregate (stage cardinality rows after the
    partials), with a 9-row literal spine supplying zeros for empty
    stages — zero driver-side loops, no doc_id-keyed spine joins.
    """
    from .curation_pipeline import (
        assign_splits,
        dedup_exact,
        dedup_near,
        gate_model,
        gate_quality,
        sample_mixture,
    )

    documents = load_table(spark, sf_dir, "documents")
    # Pin each stage output (lazy, released by the next call): the
    # funnel is a 6-stage chain AND each stage also joins the id spine,
    # so without pins the flags join instantiates stage 1 six times,
    # stage 1b five times, … (triangular recompute of the two explode
    # passes and the LSH edge build). The near-dedup stage's component
    # fixpoint additionally materializes its whole upstream chain
    # EAGERLY at construction; with the pins that materialization is
    # the only full computation of each stage.
    pin = generation("tp23_pipeline_report")
    g = pin(gate_quality(documents))
    m = pin(gate_model(g))
    e = pin(dedup_exact(m))
    n = pin(dedup_near(e))
    x = pin(sample_mixture(n))
    s = assign_splits(x)

    # The card only needs per-stage COUNTS, and every stage output is
    # pinned — so tag each stage's rows with a literal and count one
    # UNION instead of left-joining six survivor id-sets back onto the
    # raw spine. Each union branch projects only the literal (a
    # zero-column read of the cache / a count-only parquet scan for the
    # raw branch); the aggregate is one map-side-partial count per
    # stage. The 9-stage literal spine makes an empty stage emit 0.
    from functools import reduce

    branches = [
        documents.select(F.lit("0_raw").alias("stage")),
        g.select(F.lit("1_gated").alias("stage")),
        m.select(F.lit("2_model_gate").alias("stage")),
        e.select(F.lit("3_exact_dedup").alias("stage")),
        n.select(F.lit("4_near_dedup").alias("stage")),
        x.select(F.lit("5_mixture").alias("stage")),
        s.select(F.concat(F.lit("6_"), F.col("split")).alias("stage")),
    ]
    counts = (
        reduce(lambda u, v: u.unionByName(v), branches)
        .groupBy("stage")
        .agg(F.count("*").cast("long").alias("docs"))
    )
    spine = spark.createDataFrame(
        [
            ("0_raw",), ("1_gated",), ("2_model_gate",), ("3_exact_dedup",),
            ("4_near_dedup",), ("5_mixture",), ("6_train",), ("6_valid",),
            ("6_test",),
        ],
        "stage string",
    )
    return (
        spine.join(counts, "stage", "left")
        .select(
            "stage", F.coalesce("docs", F.lit(0).cast("long")).alias("docs")
        )
        .orderBy("stage")
    )
