"""Oracle-SQL constants shared across operator modules.

Lives in its own registry-free module: operator modules import the
registry, and the registry imports every operator module at first use,
so a constant needed at DECORATION time cannot be imported peer-to-peer
without re-entering a partially initialized module (the circular-import
class fixed in round 3). Anything here must stay import-pure: no
registry, no pyspark, just strings and functions that build them.
"""

# fastText-shaped classifier constants (clustering.py re-exports) and
# the curation-pipeline gate thresholds (plans/curation_pipeline.py
# re-imports) — here so plans/pipeline_report.py can build its oracle
# string at decoration time without importing any operator module (a
# module-level operator import there closes a worker-side cycle:
# multimodal -> registry -> pipeline_report -> curation_pipeline ->
# multimodal).
FT_BUCKETS = 64  # hashed-token parameter-table size
FT_KEEP_MICRO = 50_000_000  # decision threshold on the micro-unit score
CURATION_MIN_TOKENS = 5
CURATION_MAX_DUP_TOKEN_FRAC = 0.6
CURATION_MAX_TOP_TOKEN_FRAC = 0.3
CURATION_FT_MIN_MICRO = 35_000_000

# --- text family: the DuckDB twins of functions/text.py -------------------------


def words_sql(text: str = "text") -> str:
    """Lowercase, then split on one space (functions.text.words)."""
    return f"STRING_SPLIT(LOWER({text}), ' ')"


# The case-preserving single-space split of ``text`` (functions.text.ws_tokens).
WS_TOKENS_SQL = "STRING_SPLIT(text, ' ')"


def ngrams_sql(l: str, n: int) -> str:
    """The space-joined word ``n``-grams of a list ``l`` (functions.text.ngrams)."""
    gram = " || ' ' || ".join([f"{l}[i]"] + [f"{l}[i + {j}]" for j in range(1, n)])
    return f"[{gram} FOR i IN GENERATE_SERIES(1, LEN({l}) - {n - 1})]"


# The sorted distinct word set of ``documents.text`` (functions.text.word_set).
WORD_SET_SQL = f"LIST_SORT(LIST_DISTINCT({words_sql()}))"


def unnest_words_sql(*keys: str, name: str = "word", rel: str = "documents") -> str:
    """``SELECT keys…, name``: one row per word of ``rel.text``."""
    cols = "".join(f"{k}, " for k in keys)
    return f"SELECT {cols}UNNEST({words_sql()}) AS {name} FROM {rel}"


def word_rows_sql(*keys: str, min_len: int) -> str:
    """FROM-clause words of ``min_len``+ characters (functions.text.word_rows)."""
    return f"({unnest_words_sql(*keys)}) WHERE LENGTH(word) >= {min_len}"


# (doc_id, tok) per whitespace token: the surprisal family and repetition stats.
WS_TOKS_SQL = f"SELECT doc_id, UNNEST({WS_TOKENS_SQL}) AS tok FROM documents"

# (doc_id, n_tokens, dup_token_frac, top_token_frac): the Gopher repetition
# statistics of each document's non-empty tokens (functions.text.repetition_stats).
REPETITION_STATS_SQL = f"""
    SELECT doc_id, SUM(c) AS n_tokens,
           1 - COUNT(*) * 1.0 / SUM(c) AS dup_token_frac,
           MAX(c) * 1.0 / SUM(c) AS top_token_frac
    FROM (
        SELECT doc_id, tok, COUNT(*) AS c FROM ({WS_TOKS_SQL})
        WHERE tok <> '' GROUP BY doc_id, tok
    )
    GROUP BY doc_id"""


# --- hash-assignment family: the DuckDB twins of functions/sampling.py ---------


def md5_prefix_sql(key: str) -> str:
    """The BIGINT of the first 8 hex characters of a string's md5
    (functions.sampling.md5_prefix; NULL keys are its known limit)."""
    return f"CAST(CONCAT('0x', SUBSTRING(MD5({key}), 1, 8)) AS BIGINT)"


def md5_bucket_sql(key: str, n_buckets: int) -> str:
    """The [0, n_buckets) md5-prefix bucket of a string (functions.sampling.md5_bucket)."""
    return f"{md5_prefix_sql(key)} % {n_buckets}"


def split_label_sql(bucket: str) -> str:
    """The 80/10/10 train/valid/test CASE on a bucket (functions.sampling.split_label)."""
    return (
        f"CASE WHEN {bucket} < 80 THEN 'train' WHEN {bucket} < 90 THEN 'valid' "
        "ELSE 'test' END"
    )


# The source-mixture keep percentages (tp08, tp23, tp24 and the curation
# pipeline's mixture stage); every source not listed keeps DEFAULT_WEIGHT.
SOURCE_WEIGHTS = {
    ("src0", "src1", "src2"): 25,
    ("src3", "src4", "src5"): 50,
}
DEFAULT_WEIGHT = 90

# The per-``source`` weight CASE (functions.sampling.mixture_weight).
MIXTURE_WEIGHT_SQL = (
    "CASE "
    + " ".join(
        "WHEN source IN (" + ", ".join(f"'{s}'" for s in sources) + f") THEN {w}"
        for sources, w in SOURCE_WEIGHTS.items()
    )
    + f" ELSE {DEFAULT_WEIGHT} END"
)


def hashed_tokens_sql(rel: str, n_buckets: int) -> str:
    """``(doc_id, bucket)`` per word of ``rel.text`` (functions.text.hashed_tokens)."""
    return (
        f"SELECT doc_id, {md5_bucket_sql('tok', n_buckets)} AS bucket "
        f"FROM ({unnest_words_sql('doc_id', name='tok', rel=rel)})"
    )


def ft_feature_ctes(rel: str) -> str:
    """fastText's parameters ``wt(bucket, w)`` and features ``feat(doc_id,
    bucket)`` of ``rel`` (clustering.fasttext_scores): ml05, ml06, ml08, tp23."""
    return f"""wt AS (
        SELECT range AS bucket, {md5_bucket_sql("CAST(range AS VARCHAR)", 101)} AS w
        FROM RANGE({FT_BUCKETS})
    ), feat AS (
        {hashed_tokens_sql(rel, FT_BUCKETS)}
    )"""


# K-means trajectory constants — shared by the embedding-space family
# (ml01-ml04, sim12-sim14). Import-pure ints; clustering.py re-exports
# them as K / DIM / N_PROBES for its engine code.
KMEANS_K = 8
EMB_DIM = 64
KMEANS_N_PROBES = 2

# The vector family's fixed probe vector (sim01/sim03/sim08/sim11/...;
# similarity.py re-exports it) and its DuckDB relation ``q(qv)``.
QUERY_VEC_ID = 0
QUERY_CTE = f"""q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
          WHERE vec_id = {QUERY_VEC_ID})"""


def cos_sql(a: str, b: str) -> str:
    """DuckDB cosine of two DOUBLE[] expressions, in the engine's fold
    order: dot / (norm * norm) on the raw vectors (similarity.cosine)."""
    return (
        f"LIST_DOT_PRODUCT({a}, {b}) / "
        f"(SQRT(LIST_DOT_PRODUCT({a}, {a})) * SQRT(LIST_DOT_PRODUCT({b}, {b})))"
    )


# IVF cells: per-label mean vectors, the replay of similarity._centroids
# (``pos`` keeps vec_id for sim17's quantization grid). The positional
# explode is unrolled with a constant GENERATE_SERIES(1, 64): 64 is this
# corpus's embedding dim, because DuckDB lacks UNNEST WITH ORDINALITY
# and rejects a column-dependent series; the Spark side handles any dim.
IVF_CENTROID_CTE = """pos AS MATERIALIZED (
        SELECT vec_id, label, i AS pos, CAST(embedding[i] AS DOUBLE) AS val
        FROM embeddings, GENERATE_SERIES(1, 64) AS g(i)
    ), cent AS (
        SELECT label, LIST(mean_val ORDER BY pos) AS centroid
        FROM (SELECT label, pos, AVG(val) AS mean_val FROM pos GROUP BY label, pos)
        GROUP BY label
    )"""


def ivf_probe_cte(nprobe: int) -> str:
    """``probed(label)``: the ``nprobe`` cells nearest the one query ``q``
    by centroid cosine, ties to the lower label."""
    return f"""probed AS (
        SELECT label FROM cent, q
        ORDER BY {cos_sql("centroid", "qv")} DESC, label ASC
        LIMIT {nprobe}
    )"""


def ivf_panel_probe_cte(nprobe: int) -> str:
    """``probed(qid, label)``: the same probe rule per query of a panel
    ``qs(qid, qv)``."""
    return f"""probed AS (
        SELECT qid, label FROM (
            SELECT q.qid, c.label,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.qid
                       ORDER BY {cos_sql("c.centroid", "q.qv")} DESC, c.label ASC) AS rn
            FROM cent c, qs q
        ) WHERE rn <= {nprobe}
    )"""


# Shared DuckDB replay of the two-iteration Lloyd trajectory over the
# embeddings table: deterministic init (k lowest vec_ids) -> assign ->
# centroid update -> assign, with the final assignment's distance kept
# in d2. Every embedding-space oracle (ml01/ml02/ml03/ml04, sim13/sim14)
# composes on this single constant so no two can verify against
# different trajectories.
KMEANS_TRAJECTORY_CTE = f"""
    WITH RECURSIVE emb AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), cents0 AS (
        SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, v AS c
        FROM (SELECT * FROM emb ORDER BY vec_id LIMIT {KMEANS_K})
    ), d1 AS (
        SELECT e.vec_id, c0.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY list_distance(e.v, c0.c), c0.cid) AS rn
        FROM emb e CROSS JOIN cents0 c0
    ), a1 AS (
        SELECT vec_id, cid AS cluster FROM d1 WHERE rn = 1
    ), expl AS (
        SELECT a1.cluster AS cid, g.dim, e.v[g.dim + 1] AS x
        FROM a1 JOIN emb e ON a1.vec_id = e.vec_id
        CROSS JOIN (SELECT UNNEST(RANGE(0, {EMB_DIM})) AS dim) g
    ), cents1 AS (
        SELECT cid, LIST(cx ORDER BY dim) AS c
        FROM (SELECT cid, dim, AVG(x) AS cx FROM expl GROUP BY cid, dim)
        GROUP BY cid
    ), d2 AS (
        SELECT e.vec_id, c1.cid, list_distance(e.v, c1.c) AS dist,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY list_distance(e.v, c1.c), c1.cid) AS rn
        FROM emb e CROSS JOIN cents1 c1
    )
"""

# Multi-probe blocking on top of the trajectory: each vector exploded to
# its N_PROBES nearest final centroids — the candidate universe for
# ml03/ml04/sim13/sim14.
KMEANS_PROBES_CTE = f"""
    , probes AS (
        SELECT d2.vec_id, d2.cid AS probe, emb.v
        FROM d2 JOIN emb ON d2.vec_id = emb.vec_id
        WHERE d2.rn <= {KMEANS_N_PROBES}
    )
"""

# --- near-duplicate family ----------------------------------------------------

# The word-3-gram shingle set of one document, given its text and its
# lowercased word list ``t`` (dedup._shingle_set's twin): the single
# definition of the similarity universe the near-dup family verifies
# against, so no two oracles can silently diverge on tokenization.
SHINGLE_SQL = """CASE WHEN LEN(t) >= 3
                    THEN LIST_DISTINCT([ARRAY_TO_STRING(t[i:i+2], ' ')
                                        FOR i IN RANGE(1, LEN(t) - 1)])
                    ELSE [LOWER(text)] END"""

# ``sh(doc_id, ws)`` over ``documents``. Composed by dd04, dd06, dd07,
# dd08, dd12, dd13, dd16, dd17, inc02, inc04, tp14 and tp20 (tp23 uses
# SHINGLE_SQL over its own survivor relation).
_SHINGLE_CTES = f"""
    toks AS (
        SELECT doc_id, text, {words_sql()} AS t FROM documents
    ), sh AS (
        SELECT doc_id,
               {SHINGLE_SQL} AS ws
        FROM toks
    )
"""

# The word 3-grams of a list ``l`` (dedup._trigram_set's twin): dd14,
# tp07, tp17.
TRIGRAMS_SQL = ngrams_sql("l", 3)


def jaccard_sql(a: str, b: str) -> str:
    """DuckDB Jaccard of two LIST expressions, |A∩B| / (|A|+|B|−|A∩B|),
    the score dedup.jaccard_score computes."""
    return (
        f"LEN(LIST_INTERSECT({a}, {b})) * 1.0 / "
        f"(LEN({a}) + LEN({b}) - LEN(LIST_INTERSECT({a}, {b})))"
    )


def jaccard_pairs_sql(rel: str, threshold: float, score: bool = True) -> str:
    """Brute-force all-pairs ``(doc_a, doc_b[, jaccard])`` with
    ``doc_a < doc_b`` and J ≥ ``threshold`` over ``rel(doc_id, ws)``:
    the definition every blocked Jaccard join is checked against."""
    j = jaccard_sql("a.ws", "b.ws")
    rounded = f", ROUND({j}, 6) AS jaccard" if score else ""
    return f"""
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b{rounded}
    FROM {rel} a JOIN {rel} b ON a.doc_id < b.doc_id
    WHERE {j} >= {threshold}
    """


# Exact all-pairs shingle-Jaccard edges at threshold 0.5 with the score
# — the oracle of dd04, dd12, inc04 and tp20. dd04's Spark side
# generates candidates via banded MinHash-LSH then verifies with EXACT
# Jaccard, so precision is exact by construction and this differential
# check is a RECALL certificate: it asserts the band parameters lose no
# ≥0.5 pair ON THIS CORPUS. A borderline pair can legitimately slip a
# banded index with ~s^r per-band probability; production tunes bands
# for its threshold and audits recall exactly this way.
DD04_EXACT_PAIRS_SQL = "WITH " + _SHINGLE_CTES + jaccard_pairs_sql("sh", 0.5)

# sh -> exact-Jaccard edges -> recursive-CTE reachability -> min-label
# components ``comp(doc_id, component)``. Composes after an
# ``sh(doc_id, ws)`` CTE inside a ``WITH RECURSIVE`` clause (``reach`` is
# recursive).
NEARDUP_COMPONENT_CTES = f"""pairs AS ({jaccard_pairs_sql("sh", 0.5, score=False)}), edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs
    ), reach(node, r) AS (
        SELECT DISTINCT src, src FROM edges
        UNION
        SELECT e.dst, r.r FROM reach r JOIN edges e ON r.node = e.src
    ), comp AS (
        SELECT node AS doc_id, MIN(r) AS component FROM reach GROUP BY node
    )"""

# The components over ``documents``: dd06, dd07, dd08, inc02 and tp14
# compose their oracles from this single constant, and tp23 from
# NEARDUP_COMPONENT_CTES, so none can verify against a different
# similarity graph.
DD06_COMPONENT_CTE = (
    "WITH RECURSIVE " + _SHINGLE_CTES + "    , " + NEARDUP_COMPONENT_CTES + "\n"
)

# dd06's component report (doc_id, component, csize), which dd08 shares.
DD06_REPORT_SQL = (
    DD06_COMPONENT_CTE
    + """
    , sizes AS (
        SELECT component, COUNT(*) AS csize FROM comp GROUP BY component
    )
    SELECT c.doc_id, c.component, s.csize
    FROM comp c JOIN sizes s ON c.component = s.component
    ORDER BY c.doc_id
    """
)

# 60-bit SimHash (15 hex chars of md5 per token): md5 is the portable
# hash both engines share (tp12/sim05's idiom), and 60 bits is the
# widest md5 prefix that fits signed int64 on both sides. A production
# deployment free of cross-engine replay needs could use xxhash64 for
# cheaper per-token hashing; fingerprint PORTABILITY is itself a real
# property here — simhashes stored by one system get probed by others.
SIMHASH_BITS = 60
SIMHASH_BAND = 15  # 4 bands × 15 bits


def simhash_band_sql(shift) -> str:
    """The 15-bit band of ``simhash`` starting at bit ``shift`` (an int
    or a SQL expression); the text runs unchanged on Spark and DuckDB."""
    return f"(simhash >> {shift}) & {(1 << SIMHASH_BAND) - 1}"


# dd05's four prefix buckets band15_0..band15_3, both engines.
SIMHASH_BANDS_SQL = ", ".join(
    f"{simhash_band_sql(SIMHASH_BAND * i)} AS band15_{i}" for i in range(4)
)

# ``packed(doc_id, simhash)`` over ``documents``: md5-prefix token
# hashes, per-bit majority votes, bit-packed (dd05, dd15).
SIMHASH_CTES = f"""hs AS (
        SELECT doc_id,
               [CAST(CONCAT('0x', SUBSTRING(MD5(t), 1, 15)) AS BIGINT)
                FOR t IN LIST_DISTINCT({words_sql()})] AS h
        FROM documents
    ), votes AS (
        SELECT doc_id, LEN(h) AS n,
               {', '.join(f"CAST(LIST_SUM([(x >> {b}) & 1 FOR x IN h]) AS BIGINT) AS s{b}" for b in range(SIMHASH_BITS))}
        FROM hs
    ), packed AS (
        SELECT doc_id,
               {' + '.join(f"(CAST(2 * s{b} > n AS BIGINT) << {b})" for b in range(SIMHASH_BITS))} AS simhash
        FROM votes
    )"""
