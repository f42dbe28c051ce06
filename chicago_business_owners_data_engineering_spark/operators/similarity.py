"""Similarity search over embedding vectors (SURVEY.md §2.11).

The ``embeddings`` table carries ``array<float>`` vectors. All vector
math is native higher-order functions (``zip_with`` + ``aggregate``),
JVM-side, with no Python in the row path. Every query of the family is
composed from the steps below, each written once; the DuckDB twins are
composed the same way from ``shared_oracles`` (``cos_sql``, the
``q``/centroid/probe CTEs).

- Folds: :func:`dot`, :func:`norm`, :func:`cosine`, :func:`unit` and
  the squared-L2 fold :func:`sq_l2` (k-means assignment, PQ encoding,
  exact L2 re-rank). Every float that reaches the output or an ordering
  is folded in element order, as DuckDB's list functions do.
- Exact search: the one-row query relation :func:`_query_vec`, scored
  by :func:`_cosine_to_query` / :func:`_exact_topk` (sim01, sim03,
  sim16, sim18).
- IVF: per-label cell centroids :func:`_centroids`, probed for one
  query (:func:`_ivf_probed_labels`: sim03, sim12, sim18) or per query
  of a panel (:func:`_panel_probe`: sim15, sim17).
- PQ: the codebook :func:`pq_codebook` (subvectors of the NCODES lowest
  vec_ids), encoding :func:`pq_code_col`, the ADC lookup-table score
  :func:`pq_adc_score` and exact re-rank (sim09, sim10, sim14 and the
  vector pipeline).
- Blocked self-joins: :func:`salted_cell_join`, the salted in-cell join
  behind ml03, ml04, ml09, sim13 and sim14.
- MMR: one candidate pool plus a driver-coordinated greedy loop
  (:func:`_mmr_rerank`: sim11, sim12).
"""

from __future__ import annotations

import math
import operator

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table, spread_scan
from ..functions.text import words
from ..registry import query
from .shared_oracles import (
    IVF_CENTROID_CTE,
    KMEANS_K,
    KMEANS_N_PROBES,
    KMEANS_PROBES_CTE,
    KMEANS_TRAJECTORY_CTE,
    QUERY_CTE,
    QUERY_VEC_ID,
    cos_sql,
    ivf_panel_probe_cte,
    ivf_probe_cte,
    words_sql,
)

TOP_K = 10
# An embeddings row ``e``'s cosine against the query relation ``q``.
_E_COS_SQL = cos_sql("CAST(e.embedding AS DOUBLE[])", "q.qv")


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ via zip_with + aggregate (JVM-side, codegen'd)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x)
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def unit(a: Column) -> Column:
    """``a / ‖a‖`` element-wise."""
    return F.transform(a, lambda x: x / norm(a))


def sq_l2(a: Column, b: Column) -> Column:
    """Σ(aᵢ-bᵢ)², folded in element order."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _query_vec(embeddings: DataFrame) -> DataFrame:
    """The one-row relation ``qv`` holding QUERY_VEC_ID's vector."""
    return embeddings.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").cast("array<double>").alias("qv")
    )


def query_vector(embeddings: DataFrame) -> list[float]:
    """QUERY_VEC_ID's vector, collected to the driver as doubles."""
    row = (
        embeddings.filter(F.col("vec_id") == QUERY_VEC_ID)
        .select(F.transform("embedding", lambda x: x.cast("double")).alias("v"))
        .collect()[0]
    )
    return [float(x) for x in row["v"]]


def _cosine_to_query(cands: DataFrame, q: DataFrame) -> DataFrame:
    """(vec_id, label, cos_sim): each candidate's rounded exact cosine
    against the broadcast one-row query ``q``."""
    cos = F.round(cosine(F.col("embedding").cast("array<double>"), F.col("qv")), 6)
    return cands.crossJoin(F.broadcast(q)).select("vec_id", "label", cos.alias("cos_sim"))


def _exact_topk(cands: DataFrame, q: DataFrame) -> DataFrame:
    """TOP_K candidates by rounded cosine, ties to the lower vec_id:
    every partition keeps a k-heap (TakeOrderedAndProject)."""
    return (
        _cosine_to_query(cands, q)
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(TOP_K)
    )


@query(
    "sim01_bruteforce_topk",
    oracle=f"""
    WITH {QUERY_CTE}
    SELECT e.vec_id, e.label,
           ROUND({_E_COS_SQL}, 6) AS cos_sim
    FROM embeddings e, q
    WHERE e.vec_id <> {QUERY_VEC_ID}
    ORDER BY cos_sim DESC, e.vec_id ASC
    LIMIT {TOP_K}
    """,
)
def sim01_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k for a fixed query vector.

    Linear scan + TakeOrderedAndProject: every partition scores its
    vectors against the broadcast 1-row query and keeps a k-heap; the
    driver merges k rows per partition. The exact-search baseline that
    sim03 approximates.
    """
    embeddings = load_table(spark, sf_dir, "embeddings")
    return _exact_topk(
        embeddings.filter(F.col("vec_id") != QUERY_VEC_ID), _query_vec(embeddings)
    )


_SIM02_COS = cos_sql("CAST(a.embedding AS DOUBLE[])", "CAST(b.embedding AS DOUBLE[])")


@query(
    "sim02_near_dup_vectors",
    oracle=f"""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, ROUND({_SIM02_COS}, 6) AS cos_sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE {_SIM02_COS} >= 0.4
    """,
)
def sim02_near_dup_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine high-similarity pairs (threshold 0.4).

    Brute-force all-pairs — the §2.11 embedding near-dup baseline,
    oracle-checked exactly. The scale path replaces the cross join with
    sim03's cell assignment (pairs within a cell) or LSH random
    hyperplanes (dd05's simhash over embedding signs).
    """
    embeddings = load_table(spark, sf_dir, "embeddings")
    a = embeddings.alias("a")
    b = embeddings.alias("b")
    cos = cosine(F.col("a.embedding").cast("array<double>"), F.col("b.embedding").cast("array<double>"))
    return (
        a.crossJoin(b)
        .filter(F.col("a.vec_id") < F.col("b.vec_id"))
        .filter(cos >= 0.4)
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round(cos, 6).alias("cos_sim"),
        )
    )


def _centroids(embeddings: DataFrame) -> DataFrame:
    """Per-cell mean vectors: posexplode → groupBy(cell, dim) avg →
    re-assemble by cell. The ONE centroid convention of every IVF
    member: sim03, sim12 and sim18 through :func:`_ivf_probed_labels`,
    sim15 and sim17 through :func:`_panel_probe`, and sim16 directly.
    The explode is map-side and partial aggregation collapses each task
    to ncells×dim tiny rows before the shuffle (see sim03's docstring
    for the measured-faster rationale). Returns (label, centroid)."""
    pos = embeddings.select(
        "label", F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "val")
    )
    return (
        pos.groupBy("label", "pos")
        .agg(F.avg("val").alias("mean_val"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "mean_val"))),
                lambda s: s.mean_val,
            ).alias("centroid")
        )
    )


def _ivf_probed_labels(embeddings: DataFrame, q: DataFrame, nprobe: int = 3) -> DataFrame:
    """IVF coarse-probe: nearest ``nprobe`` cells to the query by
    centroid cosine over the shared :func:`_centroids` relation.
    ``q`` must carry one row with a double-array column ``qv``.
    """
    centroid = _centroids(embeddings)
    return (
        centroid.crossJoin(F.broadcast(q))
        .select("label", cosine(F.col("centroid"), F.col("qv")).alias("cell_sim"))
        .orderBy(F.desc("cell_sim"), F.asc("label"))
        .limit(nprobe)
        .select("label")
    )


def _panel_probe(embeddings: DataFrame, qs: DataFrame, nprobe: int) -> DataFrame:
    """(qid, label): :func:`_ivf_probed_labels`' rule for every query of
    a panel ``qs(qid, qv)`` at once — one broadcast of the panel onto
    the ncells centroids and a window over the (tiny) qid partitioning."""
    w = Window.partitionBy("qid").orderBy(F.desc("cell_sim"), F.asc("label"))
    return (
        _centroids(embeddings)
        .crossJoin(F.broadcast(qs))
        .select("qid", "label", cosine(F.col("centroid"), F.col("qv")).alias("cell_sim"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= nprobe)
        .select("qid", "label")
    )


@query(
    "sim03_ivf_topk",
    # Deterministic given the probe rule, so fully oracle-able.
    oracle=f"""
    WITH {IVF_CENTROID_CTE}, {QUERY_CTE}, {ivf_probe_cte(3)}
    SELECT e.vec_id, e.label,
           ROUND({_E_COS_SQL}, 6) AS cos_sim
    FROM embeddings e JOIN probed USING (label), q
    WHERE e.vec_id <> {QUERY_VEC_ID}
    ORDER BY cos_sim DESC, e.vec_id ASC
    LIMIT {TOP_K}
    """,
)
def sim03_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style approximate top-k: coarse quantize, probe nearest cells.

    Plan shape (all native ops):
      1. centroids: per-cell mean vector via posexplode →
         groupBy(cell, dim) avg → re-assemble by cell. The explode is
         map-side and partial aggregation collapses each task to
         ncells×dim tiny rows before the shuffle, so the second
         (ncells×dim-row) shuffle is noise. A measured alternative —
         one aggregate with dim per-element avg buffers
         (``avg(embedding[i]) for i in range(dim)``) — is 2.7× SLOWER
         warm at sf0.1 (1.39 s vs 0.52 s): the dim-wide buffer row
         defeats codegen while the exploded form stays on the
         vectorized two-column path. Cells here are the data's label
         partitions (a k-means assignment would slot in the same plan).
      2. probe: score query against ncells centroids, keep nprobe=3.
      3. scan only vectors in probed cells (partition-pruned at scale),
         exact cosine + top-k.
    """
    embeddings = load_table(spark, sf_dir, "embeddings")
    q = _query_vec(embeddings)
    probed = _ivf_probed_labels(embeddings, q)
    return _exact_topk(
        embeddings.join(F.broadcast(probed), "label").filter(
            F.col("vec_id") != QUERY_VEC_ID
        ),
        q,
    )


@query(
    "sim04_centroid_norms",
    oracle="""
    SELECT label,
           COUNT(*) AS n_vectors,
           ROUND(AVG(SQRT(LIST_DOT_PRODUCT(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))), 6) AS avg_norm,
           ROUND(MIN(SQRT(LIST_DOT_PRODUCT(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))), 6) AS min_norm,
           ROUND(MAX(SQRT(LIST_DOT_PRODUCT(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))), 6) AS max_norm
    FROM embeddings
    GROUP BY label
    """,
)
def sim04_centroid_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell vector-norm statistics — the sanity/maintenance query of
    a vector index (detects unnormalized or degenerate cells). Native
    higher-order aggregate per row, one small groupBy."""
    embeddings = load_table(spark, sf_dir, "embeddings")
    n = norm(F.col("embedding").cast("array<double>"))
    return (
        embeddings.select("label", n.alias("vnorm"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vectors"),
            F.round(F.avg("vnorm"), 6).alias("avg_norm"),
            F.round(F.min("vnorm"), 6).alias("min_norm"),
            F.round(F.max("vnorm"), 6).alias("max_norm"),
        )
    )


N_QUERY_BATCH = 5
BATCH_K = 3


@query(
    "sim07_batch_topk",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        FROM embeddings WHERE vec_id < {N_QUERY_BATCH}
    ),
    scored AS (
        SELECT q.query_id, e.vec_id,
               {_E_COS_SQL} AS cs
        FROM embeddings e CROSS JOIN q
        WHERE e.vec_id >= {N_QUERY_BATCH}
    )
    SELECT query_id, vec_id, ROUND(cs, 6) AS cos_sim
    FROM (
        SELECT query_id, vec_id, cs,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cs DESC, vec_id ASC) AS rn
        FROM scored
    )
    WHERE rn <= {BATCH_K}
    """,
)
def sim07_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched similarity serving: top-k per query for a query BATCH.

    The realistic retrieval shape — N query vectors broadcast onto the
    corpus scan, scored in one pass, per-query top-k via a window over
    the (tiny) query_id partitioning. Corpus is read ONCE for the whole
    batch instead of once per query; at 100 TB that amortization is the
    difference between N scans and 1. Candidate-pruned variants (sim03
    IVF, sim05 LSH) slot in by filtering the scan before scoring.
    """
    embeddings = load_table(spark, sf_dir, "embeddings")
    q = embeddings.filter(F.col("vec_id") < N_QUERY_BATCH).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("qv"),
    )
    cos = cosine(F.col("embedding").cast("array<double>"), F.col("qv"))
    scored = (
        embeddings.filter(F.col("vec_id") >= N_QUERY_BATCH)
        .crossJoin(F.broadcast(q))
        .select("query_id", "vec_id", cos.alias("cs"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cs"), F.asc("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= BATCH_K)
        .select("query_id", "vec_id", F.round("cs", 6).alias("cos_sim"))
    )


HYBRID_TERMS = ("spark", "join", "query", "window")
HYBRID_K = 15


@query(
    "sim08_hybrid_search",
    oracle=f"""
    WITH {QUERY_CTE},
    scored AS (
        SELECT d.doc_id,
               LEN(LIST_INTERSECT(LIST_DISTINCT({words_sql("d.text")}),
                                  {list(HYBRID_TERMS)!r})) / {len(HYBRID_TERMS)}.0
                   AS lex,
               {_E_COS_SQL} AS cos
        FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id, q
    )
    SELECT doc_id,
           ROUND(lex, 6) AS lex_score,
           ROUND(cos, 6) AS cos_sim,
           ROUND(0.5 * cos + 0.5 * lex, 6) AS fused
    FROM scored
    ORDER BY fused DESC, doc_id ASC
    LIMIT {HYBRID_K}
    """,
)
def sim08_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: lexical term overlap fused with vector cosine.

    The RAG-serving pattern — a keyword score (fraction of query terms
    present in the doc) averaged with embedding cosine, top-k by the
    fused score. Documents join their vectors 1:1 on doc_id = vec_id;
    at 100 TB both tables are bucketed on that key so the join is
    shuffle-free (sources/lake.py write_bucketed), the 1-row query
    vector broadcasts, and TakeOrderedAndProject keeps k rows per
    partition. Lexical scoring is array_intersect over the document's
    distinct words (``functions.text.words``, the text family's
    lowercasing tokenizer) — JVM-side, no inverted index needed for a
    fixed small term set (an index materializes as the a18-style token
    relation when term sets grow).
    """
    documents = load_table(spark, sf_dir, "documents")
    embeddings = load_table(spark, sf_dir, "embeddings")
    q = _query_vec(embeddings)
    terms = F.array(*[F.lit(t) for t in HYBRID_TERMS])
    lex = F.size(
        F.array_intersect(F.array_distinct(words()), terms)
    ) / float(len(HYBRID_TERMS))
    cos = cosine(F.col("embedding").cast("array<double>"), F.col("qv"))
    return (
        documents.join(
            embeddings, documents["doc_id"] == embeddings["vec_id"]
        )
        .crossJoin(F.broadcast(q))
        .select(
            "doc_id",
            F.round(lex, 6).alias("lex_score"),
            F.round(cos, 6).alias("cos_sim"),
            F.round(0.5 * cos + 0.5 * lex, 6).alias("fused"),
        )
        .orderBy(F.desc("fused"), F.asc("doc_id"))
        .limit(HYBRID_K)
    )


# --- sim09: product quantization (PQ) ANN -----------------------------------

PQ_M = 8  # subspaces
PQ_DSUB = 8  # dims per subspace (PQ_M * PQ_DSUB = embedding dim)
PQ_NCODES = 16  # codebook entries per subspace
PQ_RERANK = 30  # ADC candidates re-ranked exactly


def _sq_l2_mirror(a: Column, b: Column) -> Column:
    """(sqrt(Σ(aᵢ-bᵢ)²))² — bit-identical to DuckDB's list_distance²,
    which the oracle uses (same sequential fold, sqrt, square)."""
    return F.pow(F.sqrt(sq_l2(a, b)), F.lit(2.0))


def sq_l2_py(a: list[float], b: list[float]) -> float:
    """Driver-side twin of :func:`_sq_l2_mirror` over two float lists."""
    return math.sqrt(sum((x - y) ** 2 for x, y in zip(a, b))) ** 2


def lit_matrix(rows: list[list[float]]) -> Column:
    """A 2-D array literal (a subspace's codewords, a distance table)."""
    return F.array(*[F.array(*[F.lit(x) for x in r]) for r in rows])


def pq_codebook(embeddings: DataFrame) -> list[list[list[float]]]:
    """``cb[m][c]``: subspace ``m`` of the ``c``-th lowest vec_id's
    vector. Raw corpus rows as codewords keep encoding replayable in
    SQL (the oracles' ``cbsrc``/``cb`` CTEs); codebooks are k·d driver
    material, collected once as MLlib does for k-means."""
    rows = (
        embeddings.select(
            "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
        )
        .orderBy("vec_id")
        .limit(PQ_NCODES)
        .collect()
    )
    return [[list(r["v"][m * PQ_DSUB : (m + 1) * PQ_DSUB]) for r in rows] for m in range(PQ_M)]


def pq_code_col(codebook: list, m: int) -> Column:
    """Nearest-codeword id for subspace ``m`` of the vector column ``v``.

    One indexed ``transform`` over the 2-D codebook literal instead of
    NCODES copies of the distance expression — same values (code ids
    are list positions by construction), ~16× smaller expression tree,
    which keeps analysis/codegen time flat as NCODES grows. Tiebreak:
    array_min on struct(d, c) → lowest code id among equal distances.
    """
    scored = F.transform(
        lit_matrix(codebook[m]),
        lambda c, i: F.struct(
            _sq_l2_mirror(F.slice(F.col("v"), m * PQ_DSUB + 1, PQ_DSUB), c).alias("d"),
            i.alias("c"),
        ),
    )
    return F.array_min(scored)["c"]


def pq_adc_score(codebook: list, qv: list[float]) -> Column:
    """Asymmetric distance of the coded row (``code0..``) to ``qv``:
    the query's distance to every codeword is precomputed once on the
    driver (the lookup table), so the per-row score is M literal
    lookups summed in subspace order."""
    score = None
    for m in range(PQ_M):
        lut = [sq_l2_py(qv[m * PQ_DSUB : (m + 1) * PQ_DSUB], cw) for cw in codebook[m]]
        term = F.element_at(F.array(*[F.lit(x) for x in lut]), F.col(f"code{m}") + 1)
        score = term if score is None else score + term
    return score


def pq_exact_l2(qv: list[float]) -> Column:
    """Exact L2 distance of the raw vector column ``v`` to ``qv``."""
    return F.sqrt(sq_l2(F.col("v"), F.array(*[F.lit(float(x)) for x in qv])))


def _pq_adc_rerank(emb: DataFrame, cb: list, qv: list) -> DataFrame:
    """Shared PQ tail for sim09/sim10: encode -> ADC scan -> exact re-rank.

    ``emb`` carries (vec_id, label, v) in the space the codebook was
    trained in (raw for sim09, rotated for sim10). Distances keep the
    (sqrt(fold))^2 bit-mirror shape so sim09's DuckDB twin compares
    bit-identically; for sim10 (rows-only) the extra sqrt/square costs
    nothing beyond the last ulp.
    """
    coded = emb.select(
        "vec_id", "label", "v", *[pq_code_col(cb, m).alias(f"code{m}") for m in range(PQ_M)]
    )
    cand = (
        coded.select("vec_id", "label", "v", pq_adc_score(cb, qv).alias("ad"))
        .orderBy("ad", "vec_id")
        .limit(PQ_RERANK)
    )
    return (
        cand.select("vec_id", "label", pq_exact_l2(qv).alias("d"))
        .orderBy("d", "vec_id")
        .limit(TOP_K)
        .select("vec_id", "label", F.round("d", 6).alias("l2_dist"))
    )


# The oracles' PQ codebook and encoding over ``emb(vec_id, v)`` (sim09,
# sim14): pq_codebook's codewords and pq_code_col's (distance, code)
# argmin.
_PQ_CODEBOOK_CTES = f"""cbsrc AS (
        SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS c, v
        FROM (SELECT * FROM emb ORDER BY vec_id LIMIT {PQ_NCODES})
    ), cb AS (
        SELECT g.m, cbsrc.c,
               cbsrc.v[g.m * {PQ_DSUB} + 1 : g.m * {PQ_DSUB} + {PQ_DSUB}] AS sub
        FROM cbsrc CROSS JOIN (SELECT UNNEST(RANGE(0, {PQ_M})) AS m) g
    )"""


def _pq_codes_ctes(where: str = "") -> str:
    return f"""enc AS (
        SELECT e.vec_id, cb.m, cb.c,
               ROW_NUMBER() OVER (
                   PARTITION BY e.vec_id, cb.m
                   ORDER BY POWER(list_distance(
                       e.v[cb.m * {PQ_DSUB} + 1 : cb.m * {PQ_DSUB} + {PQ_DSUB}],
                       cb.sub), 2), cb.c) AS rn
        FROM emb e CROSS JOIN cb
        {where}
    ), codes AS (
        SELECT vec_id, m, c FROM enc WHERE rn = 1
    )"""


@query(
    "sim09_pq_topk",
    oracle=f"""
    WITH emb AS (
        SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
    ), q AS (
        SELECT v AS qv FROM emb WHERE vec_id = {QUERY_VEC_ID}
    ), {_PQ_CODEBOOK_CTES}, lut AS (
        SELECT cb.m, cb.c,
               POWER(list_distance(
                   q.qv[cb.m * {PQ_DSUB} + 1 : cb.m * {PQ_DSUB} + {PQ_DSUB}],
                   cb.sub), 2) AS d
        FROM cb CROSS JOIN q
    ), {_pq_codes_ctes(f"WHERE e.vec_id <> {QUERY_VEC_ID}")}, approx AS (
        SELECT codes.vec_id, list_sum(LIST(lut.d ORDER BY codes.m)) AS ad
        FROM codes JOIN lut ON codes.m = lut.m AND codes.c = lut.c
        GROUP BY codes.vec_id
    ), cand AS (
        SELECT vec_id FROM approx ORDER BY ad, vec_id LIMIT {PQ_RERANK}
    )
    SELECT e.vec_id, e.label,
           ROUND(list_distance(e.v, q.qv), 6) AS l2_dist
    FROM emb e JOIN cand USING (vec_id) CROSS JOIN q
    ORDER BY list_distance(e.v, q.qv), e.vec_id
    LIMIT {TOP_K}
    """,
)
def sim09_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN: PQ codes → ADC scan → exact re-rank.

    The third ANN family next to IVF (sim03) and hyperplane LSH
    (sim05), and the one that rules memory-bound regimes: each vector
    compresses to M=8 4-bit-ish codes, and query scanning touches only
    a per-query lookup table (ADC) instead of the raw floats.

    Scale shape: codebooks are k·d driver material (collected once, as
    MLlib does for k-means); encoding and the ADC score are pure
    per-row projections against the broadcast codebook/LUT literals —
    zero shuffle until the final TakeOrdered(RERANK), after which only
    RERANK rows are re-ranked exactly. On a 100 TB corpus the encoded
    table is ~64× smaller than the raw vectors and the ADC scan reads
    only it; the exact re-rank touches RERANK raw vectors.

    Determinism: codebook = subvectors of the NCODES lowest vec_ids;
    every distance on both engines is computed as
    (sqrt(sequential-fold))² so Spark and DuckDB produce bit-identical
    doubles; all ranks tie-break on (value, id). The pytest measures
    recall@k against sim01's exact scan.
    """
    embeddings = spread_scan(load_table(spark, sf_dir, "embeddings"))
    emb = embeddings.select(
        "vec_id", "label", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    qv = query_vector(embeddings)
    cb = pq_codebook(embeddings)
    return _pq_adc_rerank(emb.filter(F.col("vec_id") != QUERY_VEC_ID), cb, qv)


# --- sim10: optimized product quantization (OPQ) ----------------------------

OPQ_SAMPLE = 1024  # deterministic driver-side training sample for the rotation


def _opq_rotation(X):
    """(mu, R) — centering vector and the OPQ-parametric rotation.

    The parametric variant of Ge et al., "Optimized Product
    Quantization" (CVPR 2013): eigendecompose the sample covariance,
    then allocate principal components to the M subspaces so the
    log-variance carried by each subspace is balanced (greedy
    smallest-load-first over descending eigenvalues). Plain PQ
    quantizes whatever variance happens to land in each dim-block;
    after this rotation every subspace codebook covers a comparable
    share of the corpus variance, which is where PQ loses recall on
    anisotropic embeddings. ``x → R(x - mu)`` is an isometry, so every
    pairwise L2 distance — and therefore the exact re-rank — is
    unchanged.

    Training is driver-side numpy over a bounded sample, the same
    architecture as MLlib's KMeans/PCA: model parameters are driver
    material; only their APPLICATION is distributed.
    """
    import math

    import numpy as np

    mu = X.mean(axis=0)
    w, V = np.linalg.eigh(np.cov((X - mu).T))
    order = np.argsort(w)[::-1]
    w, V = w[order], V[:, order]
    buckets: list[list[int]] = [[] for _ in range(PQ_M)]
    load = [0.0] * PQ_M
    for j in range(len(w)):
        open_m = [m for m in range(PQ_M) if len(buckets[m]) < PQ_DSUB]
        m = min(open_m, key=lambda i: (load[i], i))
        buckets[m].append(j)
        load[m] += math.log(max(float(w[j]), 1e-12))
    perm = [j for m in range(PQ_M) for j in buckets[m]]
    return mu, V[:, perm].T  # rows orthonormal: rotated = R @ (x - mu)


OPQ_REFINE_ITERS = 3  # alternating rotation/codebook refinement rounds
OPQ_KMEANS_ITERS = 5  # Lloyd iterations per subspace per refinement round


def _pq_train_numpy(Y, init=None):
    """Per-subspace k-means codebooks + reconstruction of the rotated
    sample ``Y``. Deterministic: init = the previous round's codebooks
    when given (warm start — keeps refinement rounds from regressing to
    a worse local optimum after the rotation moves), else the first
    NCODES rows' subvectors (the sample is vec_id-ordered); argmin
    tiebreak = lowest code id."""
    import numpy as np

    cbs, Yhat = [], np.empty_like(Y)
    for m in range(PQ_M):
        sub = Y[:, m * PQ_DSUB : (m + 1) * PQ_DSUB]
        C = np.array(init[m]) if init is not None else sub[:PQ_NCODES].copy()
        for _ in range(OPQ_KMEANS_ITERS):
            d2 = ((sub[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(PQ_NCODES):
                members = sub[assign == c]
                if len(members):
                    C[c] = members.mean(axis=0)
        d2 = ((sub[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        Yhat[:, m * PQ_DSUB : (m + 1) * PQ_DSUB] = C[assign]
        cbs.append([[float(x) for x in C[c]] for c in range(PQ_NCODES)])
    return cbs, Yhat


def _opq_train(X, iters: int = OPQ_REFINE_ITERS):
    """(mu, R, codebooks, mse_history) — full non-parametric OPQ.

    Ge et al.'s OPQ-NP: start from the parametric eigen-rotation
    (_opq_rotation), then alternate (a) train per-subspace codebooks on
    the rotated sample and (b) re-solve the rotation as the orthogonal
    Procrustes problem against the reconstruction — R minimizing
    ||Xc Rᵀ − Ŷ||_F is UVᵀ-composed from the SVD of XcᵀŶ. Each (a)
    step holds R fixed and reduces quantization MSE (warm-started
    Lloyd — each round's codebooks seed the next, so a rotation update
    cannot restart k-means into a worse basin); each (b) step holds
    the codes fixed and reduces it again, so the sample MSE trends
    down (the pytest pins the first→last decrease).
    All driver-side numpy over the bounded sample; the model that
    leaves the driver is (mu, R, codebooks) — broadcast literals.
    """
    import numpy as np

    if len(X) < PQ_NCODES:
        raise ValueError(
            f"OPQ training needs >= {PQ_NCODES} sample vectors, got {len(X)}"
        )
    mu, R = _opq_rotation(X)
    Xc = X - mu
    cbs, history = None, []
    for _ in range(max(1, iters)):
        Y = Xc @ R.T
        cbs, Yhat = _pq_train_numpy(Y, init=cbs)
        history.append(float(((Y - Yhat) ** 2).mean()))
        U, _, Vt = np.linalg.svd(Xc.T @ Yhat)
        R = (U @ Vt).T
    # One final codebook fit in the FINAL rotation so (R, cbs) agree.
    Y = Xc @ R.T
    cbs, Yhat = _pq_train_numpy(Y, init=cbs)
    history.append(float(((Y - Yhat) ** 2).mean()))
    return mu, R, cbs, history


@query("sim10_opq_topk")
def sim10_opq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPQ ANN: learned rotation + trained codebooks → ADC → re-rank.

    sim09 with the quantizer optimized end to end (Ge et al.'s OPQ-NP):
    the parametric eigen-rotation seeds an alternating loop that trains
    per-subspace k-means codebooks and re-solves the rotation by
    orthogonal Procrustes against the reconstruction, driving the
    sample quantization MSE down each round (see _opq_train). sim09
    deliberately uses raw corpus rows as codewords so its DuckDB twin
    can replay encoding in SQL; sim10 has no oracle, so it uses the
    TRAINED codebooks — the quality configuration a production index
    ships. Everything downstream is sim09's shared machinery
    (pq_code_col ADC, TakeOrdered re-rank), and because the rotation is
    an isometry the re-ranked distances are the ORIGINAL-space
    distances up to float jitter — output schema and semantics match
    sim09's exactly.

    Scale shape: training touches a bounded driver-side sample
    (OPQ_SAMPLE rows — at 100 TB a fixed-size deterministic sample, as
    MLlib trains); the rotation applies as one Arrow-batched pandas UDF
    doing a (batch × d)·(d × d) numpy matmul — the vectorized-Python
    path, chosen over a 4096-literal codegen expression on purpose —
    then encoding/ADC are per-row projections against broadcast
    literals, zero shuffle until TakeOrdered(RERANK).

    Rows-only by design: the eigendecomposition is not expressible in
    portable SQL, so there is no DuckDB twin. The correctness evidence
    is the pytest trio — rotation orthogonality, exact isometry of
    distances, and recall@k against the exact scan at or above plain
    PQ's (tests/test_linkage_incremental.py).
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    embeddings = spread_scan(load_table(spark, sf_dir, "embeddings"))
    emb = embeddings.select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("raw"),
    )
    sample = emb.orderBy("vec_id").limit(OPQ_SAMPLE).collect()
    X = np.array([list(r["raw"]) for r in sample], dtype=np.float64)
    mu, R, cb, _history = _opq_train(X)
    b_mu = spark.sparkContext.broadcast(mu)
    b_rt = spark.sparkContext.broadcast(np.ascontiguousarray(R.T))

    @pandas_udf("array<double>")
    def rotate(vs: pd.Series) -> pd.Series:
        M = np.stack(vs.values).astype(np.float64)
        Y = (M - b_mu.value) @ b_rt.value
        return pd.Series(list(Y))

    rot = emb.select("vec_id", "label", rotate("raw").alias("v"))

    by_id = {int(r["vec_id"]): np.array(r["raw"], dtype=np.float64) for r in sample}
    qv = [float(x) for x in (by_id[QUERY_VEC_ID] - mu) @ R.T]
    return _pq_adc_rerank(rot.filter(F.col("vec_id") != QUERY_VEC_ID), cb, qv)


# MMR re-rank parameters — mirrored literally in the generated oracle.
MMR_K = 5
MMR_CAND = 20
MMR_LAMBDA = 0.5  # exactly representable in binary — no drift


def _mmr_oracle(pre_ctes: str = "", en_from: str = "embeddings") -> str:
    """Generated chained-CTE oracle replaying the greedy MMR loop:
    candidate pool → K argmax rounds, each scoring every remaining
    candidate against the selected set via a correlated MAX subquery.
    MAX over ≤K−1 doubles is order-independent (unlike SUM), so the
    whole chain is engine-deterministic; ties break on vec_id.

    ``pre_ctes``/``en_from`` let sim12 splice an IVF cell-probe in
    front of the candidate pool (same chain, pruned FROM clause)."""
    head = f"""
    WITH {QUERY_CTE}, qn AS (
        SELECT LIST_TRANSFORM(qv, x -> x / SQRT(LIST_DOT_PRODUCT(qv, qv))) AS vn
        FROM q
    ){pre_ctes}, en AS (
        SELECT vec_id,
               LIST_TRANSFORM(CAST(embedding AS DOUBLE[]),
                              x -> x / SQRT(LIST_DOT_PRODUCT(
                                  CAST(embedding AS DOUBLE[]),
                                  CAST(embedding AS DOUBLE[])))) AS vn
        FROM {en_from} WHERE vec_id <> {QUERY_VEC_ID}
    ), cand AS (
        SELECT e.vec_id, e.vn, LIST_DOT_PRODUCT(e.vn, q.vn) AS rel
        FROM en e, qn q
        ORDER BY rel DESC, vec_id LIMIT {MMR_CAND}
    ), p1 AS (
        SELECT vec_id, vn, rel, {MMR_LAMBDA} * rel AS score
        FROM cand ORDER BY score DESC, vec_id LIMIT 1
    ), s1 AS (SELECT vec_id, vn FROM p1)"""
    rounds = "".join(
        f"""
    , p{i} AS (
        SELECT vec_id, vn, rel,
               {MMR_LAMBDA} * rel - {1 - MMR_LAMBDA} *
               (SELECT MAX(LIST_DOT_PRODUCT(c.vn, s.vn)) FROM s{i - 1} s) AS score
        FROM cand c
        WHERE vec_id NOT IN (SELECT vec_id FROM s{i - 1})
        ORDER BY score DESC, vec_id LIMIT 1
    ), s{i} AS (
        SELECT vec_id, vn FROM s{i - 1}
        UNION ALL SELECT vec_id, vn FROM p{i}
    )"""
        for i in range(2, MMR_K + 1)
    )
    tail = "\n    UNION ALL ".join(
        f"""SELECT CAST({i} AS BIGINT) AS pick_rank, vec_id,
               ROUND(rel, 6) AS rel, ROUND(score, 6) AS mmr_score FROM p{i}"""
        for i in range(1, MMR_K + 1)
    )
    return head + rounds + "\n    " + tail + "\n    ORDER BY pick_rank"


@query("sim11_mmr_rerank", oracle=_mmr_oracle())
def sim11_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance: diversity-aware top-K re-ranking.

    Plain cosine top-K returns near-duplicates of the best hit; MMR
    (Carbonell & Goldstein '98 — the diversity pass behind RAG
    retrieval stacks) greedily picks argmax λ·rel(c) − (1−λ)·max_{s∈S}
    sim(c, s), trading relevance against redundancy with the already-
    selected set S.

    Two-phase shape, which is also the 100 TB shape: the HEAVY phase is
    one distributed scan scoring the corpus against the query and
    keeping a {MMR_CAND}-row candidate pool (TakeOrderedAndProject;
    at scale this phase is the ANN probe, sim03/sim09); the greedy loop
    then runs K={MMR_K} driver-coordinated rounds over the POOL — each
    round is a pool-sized job with the selected vectors broadcast as
    literals, never a second corpus pass. All scoring stays in Spark
    SQL expressions (zip_with dot over unit vectors, greatest() for the
    max-sim term — MAX is order-independent where SUM is not), so the
    generated DuckDB oracle replays the identical greedy trajectory and
    the differential check is exact at every pick.
    """
    embeddings = spread_scan(load_table(spark, sf_dir, "embeddings"))
    emb = embeddings.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    return _mmr_rerank(spark, emb, emb.filter(F.col("vec_id") == QUERY_VEC_ID), "v")


def _mmr_rerank(spark: SparkSession, emb: DataFrame, qsrc: DataFrame, qcol: str) -> DataFrame:
    """The MMR_CAND unit vectors of ``emb(vec_id, v)`` most similar to
    the query (column ``qcol`` of the one-row ``qsrc``) form the pool;
    then K driver-coordinated greedy rounds over it. The pool is
    localCheckpointed once (≤ MMR_CAND rows) so each round re-scans a
    materialized pool, not the corpus plan."""
    qvn = qsrc.select(unit(F.col(qcol)).alias("vn")).collect()[0]["vn"]
    qlit = F.array(*[F.lit(float(x)) for x in qvn])
    cand = (
        emb.filter(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id", unit(F.col("v")).alias("vn"))
        .select("vec_id", "vn", dot(F.col("vn"), qlit).alias("rel"))
        .orderBy(F.desc("rel"), F.asc("vec_id"))
        .limit(MMR_CAND)
        .localCheckpoint(eager=True)
    )
    picks: list[tuple] = []  # (pick_rank, vec_id, rel, score)
    selected: list[list[float]] = []
    remaining = cand
    for i in range(1, MMR_K + 1):
        if selected:
            sims = [
                dot(F.col("vn"), F.array(*[F.lit(float(x)) for x in s]))
                for s in selected
            ]
            maxsim = sims[0] if len(sims) == 1 else F.greatest(*sims)
            score = F.lit(MMR_LAMBDA) * F.col("rel") - F.lit(1 - MMR_LAMBDA) * maxsim
        else:
            score = F.lit(MMR_LAMBDA) * F.col("rel")
        top = (
            remaining.select("vec_id", "vn", "rel", score.alias("score"))
            .orderBy(F.desc("score"), F.asc("vec_id"))
            .limit(1)
            .collect()[0]
        )
        picks.append((i, top["vec_id"], top["rel"], top["score"]))
        selected.append(list(top["vn"]))
        remaining = remaining.filter(F.col("vec_id") != top["vec_id"])
    out = spark.createDataFrame(
        picks, "pick_rank long, vec_id long, rel double, mmr_score double"
    )
    return out.select(
        "pick_rank",
        "vec_id",
        F.round("rel", 6).alias("rel"),
        F.round("mmr_score", 6).alias("mmr_score"),
    ).orderBy("pick_rank")


# sim12's oracle splices sim03's cell probe in front of sim11's greedy
# chain: centroids → nprobe nearest cells → candidate pool restricted
# to probed cells → identical K-round MMR trajectory.
@query(
    "sim12_ivf_mmr_rerank",
    oracle=_mmr_oracle(
        pre_ctes=f", {IVF_CENTROID_CTE}, {ivf_probe_cte(3)}",
        en_from="embeddings JOIN probed USING (label)",
    ),
)
def sim12_ivf_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN-fed MMR: IVF cell probe feeds the diversity re-rank.

    The production retrieval stack composed end-to-end: sim11's exact
    corpus scan for the candidate pool is replaced by sim03's IVF
    blocking — score only vectors in the ``nprobe`` nearest cells, keep
    the top {MMR_CAND} as the pool, then run the identical K-round
    greedy MMR trajectory. At 100 TB this is THE shape: the corpus scan
    becomes a partition-pruned read of nprobe/ncells of the data
    (cell = partition key), the pool is a TakeOrderedAndProject over
    that pruned scan, and the greedy loop still touches only the
    {MMR_CAND}-row pool. The generated oracle replays the probe AND the
    trajectory, so the differential check is exact at every pick —
    approximate search, deterministic replay.

    Parity: composition of the reference's similarity-search and
    re-ranking surfaces (SURVEY.md §2.11); no single reference twin —
    this is the scale path the two components exist to form.
    """
    embeddings = spread_scan(load_table(spark, sf_dir, "embeddings"))
    q = _query_vec(embeddings)
    probed = _ivf_probed_labels(embeddings, q)
    emb = embeddings.join(F.broadcast(probed), "label").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    return _mmr_rerank(spark, emb, q, "qv")


# --- blocked self-joins (ml03, ml04, ml09, sim13, sim14) -------------------

SALTS = 8


def salted_cell_join(
    a: DataFrame,
    b: DataFrame,
    names: tuple[str, str],
    *cols: Column,
    where: Column | None = None,
    op=operator.lt,
) -> DataFrame:
    """Candidate pairs of a blocked self-join: rows of ``a`` and ``b``
    (each with ``vec_id`` and ``probe``) that share a probe cell, with
    ``op(a.vec_id, b.vec_id)`` — ``<`` for canonical pairs, ``!=`` for
    both orientations. ``where`` filters the joined rows; the result is
    the two ids as ``names`` plus ``cols``, deduplicated on ``names``
    (a pair sharing two probe cells meets twice). Expressions address
    the sides as ``a.<col>`` and ``b.<col>``.

    Salted: with few large cells (small k, or a skewed corpus) joining
    on probe alone puts an entire cell's quadratic work in ONE task.
    Side a gets a deterministic salt; side b is replicated across all
    SALTS values, so each cell's pair grid splits into SALTS row-stripes
    that schedule independently — SALTS× the parallelism for a SALTS×
    replication of the (small) build side. This is skew02's salting
    recipe, applied to a blocked self-join.
    """
    a = a.withColumn("salt", F.pmod(F.xxhash64("vec_id"), F.lit(SALTS))).alias("a")
    b = b.withColumn(
        "salt", F.explode(F.array(*[F.lit(s) for s in range(SALTS)]))
    ).alias("b")
    pairs = a.join(
        b,
        on=[
            F.col("a.probe") == F.col("b.probe"),
            F.col("a.salt") == F.col("b.salt"),
            op(F.col("a.vec_id"), F.col("b.vec_id")),
        ],
    )
    if where is not None:
        pairs = pairs.filter(where)
    return pairs.select(
        F.col("a.vec_id").alias(names[0]), F.col("b.vec_id").alias(names[1]), *cols
    ).dropDuplicates(list(names))


# --- sim14: PQ-quantized kNN join -------------------------------------------

# ADC candidates kept per query before the exact re-rank. Smaller than
# sim09's PQ_RERANK=30 because the join re-ranks per QUERY ROW (n·rerank
# exact distances total), not once per query vector.
PQ_JOIN_RERANK = 8


@query(
    "sim14_pq_knn_join",
    oracle=KMEANS_TRAJECTORY_CTE
    + KMEANS_PROBES_CTE
    + f"""
    , {_PQ_CODEBOOK_CTES}, {_pq_codes_ctes()}, cand AS (
        SELECT DISTINCT a.vec_id AS qid, b.vec_id AS nid
        FROM probes a JOIN probes b
          ON a.probe = b.probe AND a.vec_id <> b.vec_id
    ), adc AS (
        SELECT c.qid, c.nid,
               list_sum(LIST(POWER(list_distance(
                   q.v[cb.m * {PQ_DSUB} + 1 : cb.m * {PQ_DSUB} + {PQ_DSUB}],
                   cb.sub), 2) ORDER BY cb.m)) AS ad
        FROM cand c
        JOIN emb q ON c.qid = q.vec_id
        JOIN codes cd ON cd.vec_id = c.nid
        JOIN cb ON cb.m = cd.m AND cb.c = cd.c
        GROUP BY c.qid, c.nid
    ), topc AS (
        SELECT qid, nid,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY ad, nid) AS rn
        FROM adc
    ), rer AS (
        SELECT t.qid, t.nid, list_distance(q.v, n.v) AS d,
               ROW_NUMBER() OVER (PARTITION BY t.qid
                                  ORDER BY list_distance(q.v, n.v), t.nid) AS rn2
        FROM topc t
        JOIN emb q ON t.qid = q.vec_id
        JOIN emb n ON t.nid = n.vec_id
        WHERE t.rn <= {PQ_JOIN_RERANK}
    )
    SELECT qid AS vec_id, nid AS nn_id, ROUND(d, 6) AS nn_l2
    FROM rer WHERE rn2 = 1 ORDER BY vec_id
    """,
)
def sim14_pq_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-quantized semantic kNN join: every vector finds its top-1
    neighbor by scanning CODES, touching raw floats only to re-rank.

    The composition ROADMAP round 4 called for — sim09's product
    quantization inside sim13's batch join shape. The candidate stage
    never reads the neighbor-side vectors: each candidate is scored by
    asymmetric distance computation (ADC) — the query row's raw
    subvectors against the neighbor's M=8 codebook words — so the
    shuffled build side carries M single-byte codes instead of 64
    doubles (~64x less candidate-stage I/O, the reason PQ joins win at
    memory-bound scale). Only the PQ_JOIN_RERANK ADC survivors per
    query are joined back to raw vectors for the exact-L2 re-rank.

    Determinism mirrors sim09: codebook = subvectors of the NCODES
    lowest vec_ids; every distance on both engines is the same
    (sqrt(sequential-fold))^2 double; the per-subspace ADC terms are
    summed in subspace order (Spark: left-fold m=0..7; DuckDB:
    list_sum(LIST(d ORDER BY m))); all ranks tie-break on (value, id).
    The DuckDB oracle replays trajectory, blocking, encoding, ADC, and
    re-rank, so the differential check certifies the full quantized
    pipeline, not just the final ids.

    Parity: composition of the reference's similarity surface
    (SURVEY.md §2.11); the quantized batch-join scale path.
    """
    return pq_knn_join(spark, sf_dir)


def pq_knn_join(
    spark: SparkSession,
    sf_dir: str,
    rerank: int = PQ_JOIN_RERANK,
    k: int = KMEANS_K,
    n_probes: int = KMEANS_N_PROBES,
) -> DataFrame:
    """Parameterized engine behind sim14.

    Blocking knobs (k, n_probes) default to kmeans_probes' values for
    oracle comparability; production corpora grow k with corpus size
    (constant cell width) exactly as sim13/ml03 document — fixed k at
    growing corpus means quadratic candidate pairs (measured for sim13
    in SCALE_PROBE.md; sim14 shares the blocking, so the same knob).
    """
    from .clustering import kmeans_probes

    # NOT pinned (the ml03/ml04 lesson, r10): the candidate relation is
    # consumed once, so persisting the probes side just adds a
    # materialization barrier for a cheaply-recomputed projection.
    sides = kmeans_probes(spark, sf_dir, k=k, n_probes=n_probes)  # (vec_id, v, probe)
    embeddings = spread_scan(load_table(spark, sf_dir, "embeddings"))
    emb = embeddings.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    cb = pq_codebook(embeddings)
    coded = sides.select(
        "vec_id", "probe", *[pq_code_col(cb, m).alias(f"code{m}") for m in range(PQ_M)]
    )
    # Pre-slice the query side into its M subvectors ONCE per (row,
    # probe) — inside the candidate loop the slice would run per PAIR
    # (M array allocations × the quadratic candidate count; the probe
    # flagged exactly this cost shape at 10×). Same bytes shuffled
    # (M·DSUB doubles = the vector), zero per-pair allocation.
    qsubs = sides.select(
        "vec_id",
        "probe",
        *[
            F.slice(F.col("v"), m * PQ_DSUB + 1, PQ_DSUB).alias(f"qsub{m}")
            for m in range(PQ_M)
        ],
    )
    # ADC score: per subspace, look the neighbor's codeword up in the
    # broadcast codebook literal and measure it against the query row's
    # pre-sliced subvector; accumulate in subspace order (oracle fold
    # parity).
    ad = None
    for m in range(PQ_M):
        cw = F.element_at(lit_matrix(cb[m]), F.col(f"code{m}") + 1)
        term = _sq_l2_mirror(F.col(f"a.qsub{m}"), cw)
        ad = term if ad is None else ad + term
    cand = salted_cell_join(qsubs, coded, ("qid", "nid"), ad.alias("ad"), op=operator.ne)
    w = Window.partitionBy("qid").orderBy(F.asc("ad"), F.asc("nid"))
    top = (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= rerank)
        .select("qid", "nid")
    )
    qv = emb.select(F.col("vec_id").alias("qid"), F.col("v").alias("qv"))
    nv = emb.select(F.col("vec_id").alias("nid"), F.col("v").alias("nv"))
    w2 = Window.partitionBy("qid").orderBy(F.asc("d"), F.asc("nid"))
    return (
        top.join(qv, "qid")
        .join(nv, "nid")
        .select("qid", "nid", F.sqrt(sq_l2(F.col("qv"), F.col("nv"))).alias("d"))
        .withColumn("rn2", F.row_number().over(w2))
        .filter(F.col("rn2") == 1)
        .select(
            F.col("qid").alias("vec_id"),
            F.col("nid").alias("nn_id"),
            F.round("d", 6).alias("nn_l2"),
        )
        .orderBy("vec_id")
    )


# --- sim15: IVF recall evaluation ------------------------------------------------

RECALL_QUERY_MOD = 101  # query panel: vec_id % 101 == 0 ...
RECALL_QUERY_MAX = 5000  # ... within a FIXED id window (panel doesn't grow)
RECALL_NPROBE = 3


@query(
    "sim15_ivf_recall_eval",
    oracle=f"""
    WITH qs AS (
        SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
        FROM embeddings
        WHERE vec_id % {RECALL_QUERY_MOD} = 0 AND vec_id <= {RECALL_QUERY_MAX}
    ), {IVF_CENTROID_CTE}, {ivf_panel_probe_cte(RECALL_NPROBE)},
    scored AS (
        SELECT q.qid, e.vec_id, e.label,
               ROUND({_E_COS_SQL}, 6) AS c
        FROM embeddings e, qs q
        WHERE e.vec_id <> q.qid
    ),
    exact AS (
        SELECT qid, vec_id FROM (
            SELECT qid, vec_id,
                   ROW_NUMBER() OVER (PARTITION BY qid ORDER BY c DESC, vec_id ASC)
                       AS rn
            FROM scored
        ) WHERE rn <= {TOP_K}
    ),
    ivf AS (
        SELECT qid, vec_id FROM (
            SELECT s.qid, s.vec_id,
                   ROW_NUMBER() OVER (PARTITION BY s.qid
                                      ORDER BY s.c DESC, s.vec_id ASC) AS rn
            FROM scored s JOIN probed p ON s.qid = p.qid AND s.label = p.label
        ) WHERE rn <= {TOP_K}
    )
    SELECT e.qid, CAST(COUNT(*) AS BIGINT) AS n_exact,
           CAST(COUNT(i.vec_id) AS BIGINT) AS n_hits,
           ROUND(100.0 * COUNT(i.vec_id) / COUNT(*), 4) AS recall_pct
    FROM exact e LEFT JOIN ivf i ON e.qid = i.qid AND e.vec_id = i.vec_id
    GROUP BY e.qid
    ORDER BY e.qid
    """,
)
def sim15_ivf_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the IVF index (sim03's probe rule) against exact
    brute-force top-k, over a FIXED panel of query vectors.

    The eval every ANN deployment owes its users: approximate search
    is only as good as its measured recall, and the measurement is a
    JOIN — exact top-k per query LEFT-joined with the IVF top-k, hit
    fraction per query. Both rankings order by the ROUNDED cosine with
    vec_id tie-break (the sim01/sim03 discipline) so the comparison is
    a total function of the data on both engines.

    Scale honesty: the query PANEL is a fixed id window (% mod inside
    an id cap), so eval cost is |panel| × corpus — linear in corpus —
    instead of the quadratic a %-only panel would give; at 100 TB you
    evaluate on a sampled panel against a sampled corpus stratum, and
    the plan is unchanged. The centroid build is shared with sim03
    (same posexplode partial-agg shape); the exact leg is the
    deliberate cost of the eval, not a hot-path operator.

    Parity: beyond-reference (§2.11 similarity-eval extension,
    completing sim03/sim09/sim10's quality pytests with a registry-
    visible, oracle-checked recall report).
    """
    embeddings = load_table(spark, sf_dir, "embeddings")
    qs = embeddings.filter(
        (F.col("vec_id") % RECALL_QUERY_MOD == 0)
        & (F.col("vec_id") <= RECALL_QUERY_MAX)
    ).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").cast("array<double>").alias("qv"),
    )
    probed = _panel_probe(embeddings, qs, RECALL_NPROBE)
    scored = (
        embeddings.crossJoin(F.broadcast(qs))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            "label",
            F.round(
                cosine(F.col("embedding").cast("array<double>"), F.col("qv")), 6
            ).alias("c"),
        )
    )
    rank = F.row_number().over(
        Window.partitionBy("qid").orderBy(F.desc("c"), F.asc("vec_id"))
    )
    exact = scored.withColumn("rn", rank).filter(F.col("rn") <= TOP_K).select(
        "qid", "vec_id"
    )
    # Rename BOTH join keys on the ivf side (qid -> ivf_qid, vec_id ->
    # ivf_vec): exact and ivf share lineage through `scored`, and a
    # common-lineage join on exact['qid'] == ivf['qid'] leans on Spark's
    # ambiguous-self-join disambiguation — textually distinct names make
    # every key binding unambiguous regardless of plan changes.
    ivf = (
        scored.join(F.broadcast(probed), ["qid", "label"])
        .withColumn("rn", rank)
        .filter(F.col("rn") <= TOP_K)
        .select(
            F.col("qid").alias("ivf_qid"), F.col("vec_id").alias("ivf_vec")
        )
    )
    return (
        exact.join(
            ivf,
            on=[
                F.col("qid") == F.col("ivf_qid"),
                F.col("vec_id") == F.col("ivf_vec"),
            ],
            how="left",
        )
        .groupBy("qid")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.count("ivf_vec").alias("n_hits"),
        )
        .select(
            "qid",
            "n_exact",
            "n_hits",
            F.round(100.0 * F.col("n_hits") / F.col("n_exact"), 4).alias(
                "recall_pct"
            ),
        )
        .orderBy("qid")
    )


# --- sim16: cosine range search (IVF cell-pruned) -------------------------------

RANGE_THETA_MILLI = 250  # return everything with cos ≥ 0.250
RANGE_CELL_FLOOR_MILLI = 100  # probe cells whose centroid cos ≥ 0.100


@query(
    "sim16_range_search",
    oracle=f"""
    WITH {IVF_CENTROID_CTE}, {QUERY_CTE},
    probed AS (
        SELECT label FROM cent, q
        WHERE {cos_sql("centroid", "qv")} >= {RANGE_CELL_FLOOR_MILLI} / 1000.0
    )
    SELECT e.vec_id, e.label, ROUND({_E_COS_SQL}, 6) AS cos_sim
    FROM embeddings e JOIN probed USING (label), q
    WHERE e.vec_id <> {QUERY_VEC_ID}
      AND ROUND({_E_COS_SQL}, 6) >= {RANGE_THETA_MILLI} / 1000.0
    ORDER BY cos_sim DESC, e.vec_id ASC
    """,
)
def sim16_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine RANGE search (everything within a similarity radius, not
    top-k) with IVF cell pruning — the retrieval mode dedup and
    contamination sweeps actually need: "give me ALL near neighbors",
    where a k cutoff silently drops matches past k.

    sim01/sim03 rank; this thresholds. Cells are pruned by a centroid
    floor θ_cell = θ − 0.15 (cells whose centroid already scores far
    below the radius are skipped — the IVF recall/cost dial, same knob
    family as sim03's nprobe, and the eval harness for quantifying the
    tradeoff is sim15). Both the probe rule and the radius use the
    ROUNDED cosine with vec_id tie order (the sim01 discipline), so
    the result is a total function of the data on both engines.

    Scale shape: centroid build is sim03's posexplode partial-agg; the
    probe is a broadcast of surviving cell ids; the scan reads only
    probed cells (partition-pruned on the cell key at 100 TB) and
    filters locally — output-proportional, never corpus×corpus.
    """
    embeddings = load_table(spark, sf_dir, "embeddings")
    q = _query_vec(embeddings)
    probed = (
        _centroids(embeddings).crossJoin(F.broadcast(q))
        .filter(
            cosine(F.col("centroid"), F.col("qv"))
            >= F.lit(RANGE_CELL_FLOOR_MILLI) / F.lit(1000.0)
        )
        .select("label")
    )
    cands = embeddings.join(F.broadcast(probed), "label").filter(
        F.col("vec_id") != QUERY_VEC_ID
    )
    return (
        _cosine_to_query(cands, q)
        .filter(F.col("cos_sim") >= F.lit(RANGE_THETA_MILLI) / F.lit(1000.0))
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    )


# --- sim17: IVF + scalar-quantized ADC batch top-k -----------------------------------

SIM17_QUERY_IDS = (0, 7, 13, 21)  # fixed query panel (batch retrieval shape)
SIM17_NPROBE = 3
SIM17_RERANK = 40  # SQ-approx candidates kept per query before exact re-rank

_SIM17_IDS_SQL = ", ".join(str(i) for i in SIM17_QUERY_IDS)


@query(
    "sim17_ivf_sq_batch_topk",
    # Fully deterministic given the probe rule and the quantization
    # grid, so fully oracle-able: the oracle replays the same per-dim
    # min/max grid, the same FLOOR code assignment, the same midpoint
    # reconstruction, and ranks by the same fold-order cosine.
    oracle=f"""
    WITH emb AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), qs AS (
        SELECT vec_id AS qid, v AS qv FROM emb
        WHERE vec_id IN ({_SIM17_IDS_SQL})
    ), {IVF_CENTROID_CTE}, bounds AS (
        SELECT pos, MIN(val) AS mn, MAX(val) AS mx FROM pos GROUP BY pos
    ), {ivf_panel_probe_cte(SIM17_NPROBE)}, recon AS (
        SELECT p.vec_id, p.label,
               LIST(CASE WHEN b.mx > b.mn
                         THEN b.mn + (LEAST(255.0, FLOOR(((p.val - b.mn) * 255.0) /
                                                         (b.mx - b.mn))) + 0.5) *
                              (b.mx - b.mn) / 255.0
                         ELSE b.mn END ORDER BY p.pos) AS rv
        FROM pos p JOIN bounds b ON p.pos = b.pos
        WHERE p.label IN (SELECT DISTINCT label FROM probed)
        GROUP BY p.vec_id, p.label
    ), cand AS (
        SELECT * FROM (
            SELECT q.qid, r.vec_id, r.label,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.qid
                       ORDER BY {cos_sql("r.rv", "q.qv")} DESC, r.vec_id ASC) AS rn
            FROM recon r
            JOIN probed p ON r.label = p.label
            JOIN qs q ON q.qid = p.qid
            WHERE r.vec_id <> q.qid)
        WHERE rn <= {SIM17_RERANK}
    ), exact AS (
        SELECT t.qid, e.vec_id, e.label, {cos_sql("e.v", "q.qv")} AS cs,
               ROW_NUMBER() OVER (
                   PARTITION BY t.qid
                   ORDER BY {cos_sql("e.v", "q.qv")} DESC, e.vec_id ASC) AS rn
        FROM cand t JOIN emb e ON e.vec_id = t.vec_id
        JOIN qs q ON q.qid = t.qid
    )
    SELECT qid AS q_vec_id, vec_id, label, ROUND(cs, 6) AS cos_sim
    FROM exact WHERE rn <= {TOP_K}
    ORDER BY q_vec_id, cos_sim DESC, vec_id
    """,
)
def sim17_ivf_sq_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantized BATCH retrieval — the production serving composition:
    IVF cell probing (sim03) × scalar-quantized approximate scoring
    (sim06's int8 grid, applied asymmetrically: raw query against the
    midpoint-reconstructed corpus, Jégou et al.'s ADC) × exact top-k
    re-rank, for a PANEL of queries at once.

    Why it matters at 100 TB: the SQ codes are 4× smaller than the raw
    floats (8 bits/dim), so the candidate scan reads a fraction of the
    bytes; the probe prunes it to nprobe/ncells of the corpus; and only
    {SIM17_RERANK} vectors per query are ever re-scored at full
    precision. The batch shape amortizes the centroid/bounds relations
    (computed once, broadcast) across all queries — the per-query cost
    is two broadcast joins and a bounded window.

    Everything is native DataFrame ops: the quantization grid is a
    64-row min/max aggregate re-assembled into two array literals-at-
    runtime (one broadcast row), codes and reconstruction are a single
    indexed ``transform`` (no explode of the corpus), and approximate
    and exact cosines share the zip_with/aggregate fold whose order the
    oracle mirrors bit-for-bit (the sim13 lesson: a float that DRIVES
    ranking must be fold-order-exact, not just close).
    """
    embeddings = load_table(spark, sf_dir, "embeddings")
    emb = embeddings.select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    qs = emb.filter(F.col("vec_id").isin(*SIM17_QUERY_IDS)).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    pos = emb.select("label", F.posexplode("v").alias("pos", "val"))
    bounds = (
        pos.groupBy("pos")
        .agg(F.min("val").alias("mn"), F.max("val").alias("mx"))
        .groupBy()
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "mn"))), lambda s: s.mn
            ).alias("mn_arr"),
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "mx"))), lambda s: s.mx
            ).alias("mx_arr"),
        )
    )
    probe = _panel_probe(embeddings, qs, SIM17_NPROBE)
    wq = Window.partitionBy("qid")
    # SQ-reconstruct once per corpus vector in any probed cell (labels
    # dedup'd first so a vector probed by several queries encodes once)
    sub = emb.join(F.broadcast(probe.select("label").distinct()), "label")

    def _recon(x, i):
        mn = F.element_at(F.col("mn_arr"), i + 1)
        mx = F.element_at(F.col("mx_arr"), i + 1)
        code = F.least(F.lit(255.0), F.floor(((x - mn) * 255.0) / (mx - mn)))
        return F.when(mx > mn, mn + (code + 0.5) * (mx - mn) / 255.0).otherwise(mn)

    sub_rv = sub.crossJoin(F.broadcast(bounds)).select(
        "vec_id", "label", "v", F.transform("v", _recon).alias("rv")
    )
    cand = (
        sub_rv.join(F.broadcast(probe), "label")
        .filter(F.col("vec_id") != F.col("qid"))
        .join(F.broadcast(qs), "qid")
        .withColumn("approx", cosine(F.col("rv"), F.col("qv")))
        .withColumn(
            "rn",
            F.row_number().over(wq.orderBy(F.desc("approx"), F.asc("vec_id"))),
        )
        .filter(F.col("rn") <= SIM17_RERANK)
        .select("qid", "vec_id", "label", "v", "qv")
    )
    exact = cand.withColumn("cs", cosine(F.col("v"), F.col("qv")))
    return (
        exact.withColumn(
            "rn", F.row_number().over(wq.orderBy(F.desc("cs"), F.asc("vec_id")))
        )
        .filter(F.col("rn") <= TOP_K)
        .select(
            F.col("qid").alias("q_vec_id"),
            "vec_id",
            "label",
            F.round("cs", 6).alias("cos_sim"),
        )
        .orderBy("q_vec_id", F.desc("cos_sim"), "vec_id")
    )


# --- sim18: filtered ANN (metadata predicate + IVF probe) -----------------------------

SIM18_NPROBE = 5  # wider probe than sim03: the filter thins every cell
SIM18_FILTER_MOD = 3  # predicate: vec_id % 3 == 0 ("only source-X vectors")


@query(
    "sim18_filtered_ann",
    oracle=f"""
    WITH {IVF_CENTROID_CTE}, {QUERY_CTE}, {ivf_probe_cte(SIM18_NPROBE)}
    SELECT e.vec_id, e.label, ROUND({_E_COS_SQL}, 6) AS cos_sim
    FROM embeddings e JOIN probed USING (label), q
    WHERE e.vec_id <> {QUERY_VEC_ID} AND e.vec_id % {SIM18_FILTER_MOD} = 0
    ORDER BY cos_sim DESC, e.vec_id ASC
    LIMIT {TOP_K}
    """,
)
def sim18_filtered_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED vector search: top-k under a metadata predicate — the
    production retrieval mode every vector store names as a feature
    ("only documents from this source/tenant/date range"). The naive
    post-filter of an UNfiltered top-k under-returns (its k survivors
    may all fail the predicate); the correct plan pushes the predicate
    INTO the pruned scan and widens the probe to compensate for cell
    thinning ({SIM18_NPROBE} cells vs sim03's 3 — production derives
    this from the filter's selectivity estimate).

    Plan shape: predicate and cell membership are BOTH scan-level
    filters (at 100 TB: partition pruning on the cell key + row-group
    pruning / pushdown on the metadata column — `pushed: True` in the
    audit), then exact cosine + top-k on the survivors. Everything
    else (centroid build, probe rule, fold-order cosine) is sim03's
    oracle-replayed machinery.
    """
    embeddings = load_table(spark, sf_dir, "embeddings")
    q = _query_vec(embeddings)
    probed = _ivf_probed_labels(embeddings, q, nprobe=SIM18_NPROBE)
    return _exact_topk(
        embeddings.join(F.broadcast(probed), "label").filter(
            (F.col("vec_id") != QUERY_VEC_ID)
            & (F.col("vec_id") % SIM18_FILTER_MOD == 0)
        ),
        q,
    )


# --- sim19: per-source embedding-centroid drift ------------------------------------

SIM19_GRID = 1024  # fixed quantization grid: q = floor(x*1024 + 0.5)
SIM19_DIMS = 64  # testdata embedding width (fixtures only — both the
# engine and the oracle derive the dim range from each row's actual
# array length, so a malformed-width vector shifts BOTH sides the same
# way instead of silently diverging)
# Component saturation bound: components are clamped to [-CLAMP, CLAMP]
# BEFORE quantizing, identically on both engines, so the nonnegativity
# offset (CLAMP·GRID) holds for ANY input instead of silently breaking
# truncating-div parity when a component drifts below -1.0005 (the
# round-7 ADVICE finding). Unit-normalized embeddings never touch the
# clamp; a malformed vector saturates deterministically on both sides.
SIM19_CLAMP = 2


@query(
    "sim19_source_centroid_drift",
    oracle=f"""
    WITH src AS (
        SELECT doc_id AS vec_id, source FROM documents
    ), e AS (
        SELECT emb.vec_id, g.dim,
               CAST(FLOOR(LEAST(GREATEST(CAST(emb.embedding[g.dim + 1] AS DOUBLE),
                                         -{SIM19_CLAMP}.0), {SIM19_CLAMP}.0)
                          * {SIM19_GRID} + 0.5) AS BIGINT)
                   + {SIM19_CLAMP * SIM19_GRID} AS qp
        FROM embeddings emb,
        LATERAL (SELECT UNNEST(RANGE(0, LEN(emb.embedding))) AS dim) g
    ), per AS (
        SELECT s.source, e.dim,
               (1000 * CAST(SUM(e.qp) AS BIGINT)) // ({SIM19_GRID} * COUNT(*))
                   - {SIM19_CLAMP * 1000} AS m
        FROM e JOIN src s USING (vec_id) GROUP BY s.source, e.dim
    ), gcent AS (
        SELECT dim,
               (1000 * CAST(SUM(qp) AS BIGINT)) // ({SIM19_GRID} * COUNT(*))
                   - {SIM19_CLAMP * 1000} AS m
        FROM e GROUP BY dim
    ), agg AS (
        SELECT p.source,
               CAST(SUM(p.m * g.m) AS BIGINT) AS dot,
               CAST(SUM(p.m * p.m) AS BIGINT) AS na2,
               CAST(SUM(g.m * g.m) AS BIGINT) AS nb2
        FROM per p JOIN gcent g USING (dim) GROUP BY p.source
    ), cnt AS (
        SELECT s.source, CAST(COUNT(*) AS BIGINT) AS n_vecs
        FROM src s JOIN embeddings emb ON emb.vec_id = s.vec_id
        GROUP BY s.source
    )
    SELECT a.source, c.n_vecs, a.dot, a.na2, a.nb2,
           CASE WHEN a.na2 * a.nb2 = 0 THEN NULL
                ELSE (1000 * a.dot * a.dot) // (a.na2 * a.nb2) END AS cos2_milli
    FROM agg a JOIN cnt c USING (source)
    ORDER BY a.source
    """,
)
def sim19_source_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source embedding-centroid drift vs the corpus centroid —
    the monitoring pass that catches a source whose embedding
    distribution moved (new crawler, model version skew, poisoned
    shard) before it contaminates retrieval or dedup downstream.

    Exactness across engines is the whole design: raw float means are
    fold-order-dependent, so components are snapped to a fixed
    1/{SIM19_GRID} grid first (one IEEE multiply + floor — bit-equal
    everywhere, the sim06 discipline with a GLOBAL grid so means are
    comparable across vectors), offset nonnegative so the per-dim
    integer-milli mean's ``div`` truncates identically on both
    engines, then un-offset. Drift is reported as exact integers: the
    dot product and squared norms of the (milli-unit) centroid pair,
    plus cos²·1000 via one cross-multiplied division — sign readable
    from ``dot``; no sqrt, no float accumulation, NULL-guarded
    denominator.

    Scale shape: one posexplode of the vector table (map-side), one
    (source, dim)-keyed aggregate, a dim-count-row global-centroid
    aggregate broadcast back onto it, and a |sources|-row rollup —
    linear in vectors, no pairwise anything.

    Parity: beyond-reference (embedding-ops mandate; monitoring seed
    cbddl/src/monitoring/pipeline_monitor.py:75-117 drift alerts).
    """
    documents = load_table(spark, sf_dir, "documents")
    embeddings = load_table(spark, sf_dir, "embeddings")
    src = documents.select(F.col("doc_id").alias("vec_id"), "source")
    clamp = F.least(
        F.greatest(F.col("x").cast("double"), F.lit(-float(SIM19_CLAMP))),
        F.lit(float(SIM19_CLAMP)),
    )
    e = embeddings.select(
        "vec_id", F.posexplode("embedding").alias("dim", "x")
    ).select(
        "vec_id",
        "dim",
        (
            F.floor(clamp * SIM19_GRID + 0.5).cast("long")
            + SIM19_CLAMP * SIM19_GRID
        ).alias("qp"),
    )
    mean_milli = F.expr(
        f"(1000 * sum(qp)) div ({SIM19_GRID} * count(*))"
    ) - SIM19_CLAMP * 1000
    per = (
        e.join(src, "vec_id")
        .groupBy("source", "dim")
        .agg(mean_milli.alias("m"))
    )
    glob = e.groupBy("dim").agg(mean_milli.alias("gm"))
    agg = (
        per.join(F.broadcast(glob), "dim")
        .groupBy("source")
        .agg(
            F.sum(F.col("m") * F.col("gm")).alias("dot"),
            F.sum(F.col("m") * F.col("m")).alias("na2"),
            F.sum(F.col("gm") * F.col("gm")).alias("nb2"),
        )
    )
    cnt = (
        src.join(embeddings.select("vec_id"), "vec_id")
        .groupBy("source")
        .agg(F.count("*").alias("n_vecs"))
    )
    denom = F.col("na2") * F.col("nb2")
    return (
        agg.join(cnt, "source")
        .select(
            "source",
            "n_vecs",
            "dot",
            "na2",
            "nb2",
            F.when(denom == 0, F.lit(None).cast("long"))
            .otherwise(F.expr("(1000 * dot * dot) div (na2 * nb2)"))
            .alias("cos2_milli"),
        )
        .orderBy("source")
    )
