"""Deduplication operators (SURVEY.md §2.11): dd01–dd17.

The dedup ladder a training-data pipeline needs, each rung a pure
DataFrame composition:

- exact dedup       — hash-groupBy on the full text (dd01/dd02)
- word-set Jaccard  — brute-force pair scoring, the correctness
                      baseline for the fuzzy rungs (dd03)
- MinHash + LSH     — banded signatures → bucket join → exact verify;
                      the O(n·bands) scale path (dd04), its component
                      closure and survivor choice (dd06/dd07; dd08 in
                      graph.py), its IDF-weighted one-row-band form
                      (dd16) and its band-tuning sweep (dd17)
- SimHash           — 60-bit bit-majority fingerprint (dd05) and its
                      pigeonhole-banded hamming pairs (dd15)
- substring dedup   — token spans (dd09/dd10), character spans (dd11)
- prefix filtering  — exact Jaccard (dd12) and containment (dd13)
                      joins, never O(n²)
- n-gram novelty    — per-doc share of first-seen word 3-grams (dd14)

Each step of the near-dup family is written once here and composed by
every consumer (these queries, inc02/inc04, tp07/tp14/tp17/tp20/tp23,
the curation pipeline and the streaming near-dup sink): the shingle
and trigram column builders (:func:`_shingle_set`,
:func:`_trigram_set`), the signature and band builders
(:func:`_minhash_per_doc`, :func:`_minhash_bands`, over
:func:`_explode_bands`), the band-bucket pair join
(:func:`bucket_pairs`), the rarest-first prefix index
(:func:`_prefix_index`) and the exact-Jaccard verify
(:func:`jaccard_verify` over :func:`jaccard_score`). Their DuckDB
twins live in ``shared_oracles``.

Reference seeds: duplicate counting
(cbddl/src/data_ingestion/ingestion_pipeline.py:62) and key dedup
(cbddl/src/etl/pipeline.py:296,329-344). The fuzzy rungs are
beyond-reference, mandated by BASELINE.json.

Scale notes: dd03's cross join is O(n²) — it exists as the oracle-able
baseline. Every other pair query blocks first: cost is (docs ×
shingles) for signatures plus a shuffle keyed on the bucket or prefix
token, with bucket sizes bounded by collision probability or token
rarity, never all-pairs.
"""

from __future__ import annotations

import operator

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import generation, load_table, spread_scan
from ..functions.text import WORDS_EXPR, ngrams, word_set, words
from ..registry import query
from .shared_oracles import (
    DD04_EXACT_PAIRS_SQL,
    DD06_COMPONENT_CTE,
    DD06_REPORT_SQL,
    SIMHASH_BAND,
    SIMHASH_BANDS_SQL,
    SIMHASH_BITS,
    SIMHASH_CTES,
    TRIGRAMS_SQL,
    WORD_SET_SQL,
    _SHINGLE_CTES,
    jaccard_pairs_sql,
    ngrams_sql,
    simhash_band_sql,
    words_sql,
)

NUM_HASHES = 16  # minhash signature length
BAND_SIZE = 4  # rows per LSH band → 4 bands
SHINGLE_N = 3  # words per shingle


def _shingle_set(text: Column, n: int = SHINGLE_N) -> Column:
    """Distinct word n-gram shingles (order-sensitive document content).

    Unigram sets saturate on small vocabularies (most docs overlap most
    words); n-gram shingles are the standard MinHash unit — two docs
    share a shingle only when n consecutive words match, so similarity
    concentrates on true near-copies. Docs shorter than n words shingle
    to their whole text, so the slices (``functions.text.shifted``'s
    recipe) are guarded rather than clamped.
    """
    w = words(text)
    sz = F.size(w)
    zipped = F.arrays_zip(*[F.slice(w, i + 1, sz - (n - 1)) for i in range(n)])
    grams = F.transform(zipped, lambda s: F.concat_ws(" ", *[s[str(i)] for i in range(n)]))
    return F.array_distinct(F.when(sz >= n, grams).otherwise(F.array(F.lower(text))))


def _trigram_set(text: Column) -> Column:
    """Distinct word 3-grams of a document, and none for a doc under 3
    words (unlike :func:`_shingle_set`'s whole-text fallback): the slice
    length is clamped at 0, because Spark rejects a negative one."""
    return F.array_distinct(ngrams(words(text), 3))


def jaccard_score(a: Column, b: Column) -> tuple[Column, Column]:
    """(|A∩B|, |A∩B| / (|A|+|B|−|A∩B|)) of two set-valued array columns:
    the one exact-Jaccard expression (``shared_oracles.jaccard_sql`` is
    its DuckDB twin)."""
    inter = F.size(F.array_intersect(a, b))
    return inter, inter / (F.size(a) + F.size(b) - inter)


def fetch_sets(
    pairs: DataFrame,
    sets: DataFrame,
    set_col: str,
    right: DataFrame | None = None,
) -> DataFrame:
    """``pairs(doc_a, doc_b)`` with each side's set attached as ``ws_a``
    and ``ws_b`` — from ``sets`` (``doc_id``, ``set_col``), or from
    ``right`` for the b side when the two sides live apart."""
    right = sets if right is None else right
    return pairs.join(
        sets.select(F.col("doc_id").alias("doc_a"), F.col(set_col).alias("ws_a")), "doc_a"
    ).join(
        right.select(F.col("doc_id").alias("doc_b"), F.col(set_col).alias("ws_b")), "doc_b"
    )


def jaccard_verify(
    pairs: DataFrame,
    sets: DataFrame,
    set_col: str,
    threshold: float,
    right: DataFrame | None = None,
) -> DataFrame:
    """(doc_a, doc_b, jaccard) of the candidate ``pairs`` whose exact
    Jaccard reaches ``threshold``: the verify step after every blocked
    candidate join, so blocking only ever costs recall, never
    precision."""
    _, jac = jaccard_score(F.col("ws_a"), F.col("ws_b"))
    return (
        fetch_sets(pairs, sets, set_col, right)
        .filter(jac >= threshold)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


def bucket_pairs(
    a: DataFrame,
    b: DataFrame,
    keys: list[str],
    *cols: Column,
    op=operator.lt,
    where: tuple[Column, ...] = (),
) -> DataFrame:
    """Distinct pairs of rows of ``a`` and ``b`` that share every bucket
    key in ``keys``, with ``op(a.doc_id, b.doc_id)`` (``<`` for canonical
    pairs, ``>`` or ``!=`` for the other orientations, ``None`` for a
    probe of two disjoint relations) and any ``where`` conditions
    joined into the same condition. The result is ``cols`` — by default
    the ids as ``doc_a``/``doc_b`` — deduplicated, because a pair that
    collides in several buckets meets once per bucket. Expressions
    address the sides as ``a.<col>`` and ``b.<col>``."""
    a, b = a.alias("a"), b.alias("b")
    on = [F.col(f"a.{k}") == F.col(f"b.{k}") for k in keys]
    if op is not None:
        on.append(op(F.col("a.doc_id"), F.col("b.doc_id")))
    cols = cols or (F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    return a.join(b, on=on + list(where)).select(*cols).distinct()


def _explode_bands(df: DataFrame, keep: list[str], bands: list[Column]) -> DataFrame:
    """One row per band: the ``keep`` columns plus the fields of each of
    the ``bands`` structs, flattened — a single explode over the
    per-document row instead of a union of per-band projections."""
    return df.select(*keep, F.explode(F.array(*bands)).alias("b")).select(*keep, "b.*")


@query(
    "dd01_exact_dup_groups",
    oracle="""
    SELECT text, MIN(doc_id) AS keep_id, COUNT(*) AS copies
    FROM documents
    GROUP BY text
    HAVING COUNT(*) > 1
    """,
)
def dd01_exact_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate groups: identical text, canonical survivor, copy count.

    Hash-groupBy on the text value — one shuffle keyed on the text hash.
    (A14 seed: cbddl/src/data_ingestion/ingestion_pipeline.py:62.)
    """
    documents = load_table(spark, sf_dir, "documents")
    return (
        documents.groupBy("text")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("copies"))
        .filter(F.col("copies") > 1)
    )


@query(
    "dd02_exact_dedup_rows",
    oracle="""
    SELECT doc_id, lang, source
    FROM (
        SELECT doc_id, lang, source,
               ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        FROM documents
    )
    WHERE rn = 1
    """,
)
def dd02_exact_dedup_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup keeping a deterministic survivor per text.

    ``dropDuplicates`` keeps an arbitrary row; the row_number form pins
    the survivor (min doc_id) so results are stable across engines and
    cluster sizes (A21/A22 seed: cbddl/src/etl/pipeline.py:296,344).
    """
    from pyspark.sql import Window

    documents = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("text").orderBy("doc_id")
    return (
        documents.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", "source")
    )


@query(
    "dd03_jaccard_pairs",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, {WORD_SET_SQL} AS ws
        FROM documents
    )"""
    + jaccard_pairs_sql("w", 0.8),
)
def dd03_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force word-set Jaccard near-dup pairs (threshold 0.8).

    The correctness baseline for fuzzy dedup: all pairs, exact score.
    O(n²) by construction — at scale use dd04 (LSH) to generate
    candidates and this scoring only on candidates.
    """
    documents = load_table(spark, sf_dir, "documents")
    docs = documents.select("doc_id", word_set().alias("ws"))
    a = docs.alias("a")
    b = docs.alias("b")
    _, jac = jaccard_score(F.col("a.ws"), F.col("b.ws"))
    return (
        a.crossJoin(b)
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .filter(jac >= 0.8)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.round(jac, 6).alias("jaccard"),
        )
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    set_col: str = "shingles",
    threshold: float = 0.5,
    num_hashes: int = NUM_HASHES,
    band_size: int = BAND_SIZE,
) -> DataFrame:
    """MinHash + banded LSH near-dup pairs, verified with exact Jaccard.

    The 100 TB fuzzy-dedup path: token set → ``num_hashes``-slot minhash
    signature → bands of ``band_size`` → bucket join on (band,
    band_hash) → exact-Jaccard verify of candidates only. No all-pairs
    product anywhere; the O(·) terms are explode(tokens) and the bucket
    self-join, whose size is controlled by the band collision
    probability s^band_size.

    Signatures and the hashed token set are computed as a pure per-row
    projection (array_min over transform — zero shuffle); the per-doc
    result is pinned until the next call (:func:`catalog.generation`)
    because three downstream branches (bands, verify-left,
    verify-right) reuse it. Verification intersects long arrays, not
    strings — same Jaccard value (hashing is injective modulo 2^-64
    collisions), far cheaper to shuffle.
    """
    # The per-doc and band relations come from the SAME builders the
    # storable index uses, so a streaming-built index and this one-pass
    # form stay row-identical; the only exchanges are the bucket join
    # and the two verify fetches.
    pin = generation("minhash_lsh_pairs")
    docs = docs.select(F.col(id_col).alias("doc_id"), set_col)
    per_doc = pin(_minhash_per_doc(docs, "doc_id", set_col, num_hashes))
    bands = _minhash_bands(per_doc, "doc_id", num_hashes, band_size)
    candidates = bucket_pairs(bands, bands, ["band_id", "band_hash"])
    return jaccard_verify(candidates, per_doc, "hset", threshold)


@query("dd04_minhash_lsh_pairs", oracle=DD04_EXACT_PAIRS_SQL)
def dd04_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle-based MinHash-LSH near-dup pairs over ``documents``.

    Word-3-gram shingles (order-sensitive) rather than unigram sets:
    this corpus's tiny vocabulary makes unigram similarity saturate
    (most pairs ≥0.7), which both inflates LSH buckets toward O(n²)
    and makes the similarity meaningless. Shingles concentrate
    similarity on genuine near-copies.

    Oracle note: candidates are verified with EXACT Jaccard, so
    precision is exact by construction and the differential check
    against the brute-force pair SQL is a RECALL certificate — it
    proves the band parameters miss no ≥0.5 pair on this corpus
    (dd12 independently proves the exact pair set is SQL-derivable;
    PERF.md records dd04 emitting the identical pair set at sf0.1).
    A corpus with a borderline pair can legitimately diverge with
    ~s^band_size per-band probability; same caveat as dd06's edges.
    """
    documents = spread_scan(load_table(spark, sf_dir, "documents"))
    docs = documents.select("doc_id", _shingle_set(F.col("text")).alias("shingles"))
    return minhash_lsh_pairs(docs, "doc_id", "shingles", threshold=0.5)


_DD05_ORACLE = f"""
    WITH {SIMHASH_CTES}
    SELECT doc_id, simhash, {SIMHASH_BANDS_SQL}
    FROM packed
"""


@query("dd05_simhash", oracle=_DD05_ORACLE)
def dd05_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash fingerprint per document, computed natively.

    For each bit position: sum(+1/-1 votes of each token's hash bit) →
    majority sign. Computed as a pure per-row projection — each bit's
    vote is an ``aggregate`` fold over the hashed token array, so the
    whole fingerprint needs NO explode and NO shuffle (same values as
    the explode + 60-conditional-sum groupBy, minus its O(docs·tokens)
    exchange). Near-dup lookup then buckets on fingerprint prefixes
    (hamming-ball probing); here we return (doc_id, simhash,
    band15_0..3) prefix buckets. Token hashes are md5-prefix-derived,
    so the DuckDB oracle replays the whole fingerprint bit-exactly.
    """
    documents = spread_scan(load_table(spark, sf_dir, "documents"))
    documents.createOrReplaceTempView("__dd05_docs")

    # One generated SQL statement instead of ~400 Column-builder calls:
    # the py4j round-trips to assemble 60 vote folds + a 60-term
    # bit-pack dominate wall time (~2 s driver-side) when built
    # column-by-column; Catalyst parses the equivalent SQL in ~ms.
    # Bit terms are disjoint, so `+` packs them (same as OR) and stays
    # a flat, parser-friendly sum. 2*sum(bit)-count > 0 is the majority
    # vote without a branch per row.
    votes = ", ".join(
        f"aggregate(h, 0L, (a, x) -> a + (shiftright(x, {b}) & 1)) AS s{b}"
        for b in range(SIMHASH_BITS)
    )
    pack = " + ".join(
        f"(CAST(2 * s{b} > n AS LONG) << {b})" for b in range(SIMHASH_BITS)
    )
    return spark.sql(
        f"""
        WITH hs AS (
            SELECT doc_id,
                   transform(array_distinct({WORDS_EXPR}),
                             t -> CAST(conv(substring(md5(t), 1, 15), 16, 10) AS LONG)) AS h
            FROM __dd05_docs
        ),
        votes AS (SELECT doc_id, size(h) AS n, {votes} FROM hs),
        packed AS (SELECT doc_id, {pack} AS simhash FROM votes)
        SELECT doc_id, simhash, {SIMHASH_BANDS_SQL} FROM packed
        """
    )


@query("dd06_neardup_components", oracle=DD06_REPORT_SQL)
def dd06_neardup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: connected components over the similarity graph.

    Pairwise near-dup relations aren't transitive (A~B, B~C but A!~C),
    so keep-one-per-pair dedup double-drops; the standard fix is
    connected components over the pair graph, then one survivor per
    component (min doc_id = the component label). The EXECUTED edge
    path is dd04's MinHash-LSH (banded candidates → exact-Jaccard
    verify at ≥ 0.5, recall-tuned bands — no CartesianProduct in the
    plan); the DuckDB recursive-CTE oracle derives the same graph from
    the brute-force all-pairs definition, so the differential check
    proves the LSH band parameters lose no component structure.

    Components run as large-star/small-star
    (graph.components_large_small_star): O(log n) rounds regardless of
    graph diameter, ~4 node-keyed shuffles per round, lineage truncated
    by a ``localCheckpoint`` each round. Convergence is an exact
    star-forest test on the round's output, not a fixed round count.
    """
    comp = neardup_components(spark, sf_dir)
    sizes = comp.groupBy("component").agg(F.count("*").alias("csize"))
    return (
        comp.join(sizes, "component")
        .select("doc_id", "component", "csize")
        .orderBy("doc_id")
    )


def neardup_edges(
    docs: DataFrame, set_col: str = "ws", threshold: float = 0.5
) -> DataFrame:
    """(doc_a, doc_b) near-dup pairs over a (doc_id, token-set) relation.

    Routes through dd04's MinHash-LSH machinery with recall-aggressive
    banding: 32 minhash slots in 16 bands of 2, so a pair at exactly
    the 0.5 threshold is missed with probability (1-s²)^16 ≈ 1% and
    anything ≥0.7 with < 1e-4 — and because the candidates are then
    verified with EXACT Jaccard, band tuning only affects recall, never
    precision.

    Honest caveat on the differential check: dd06/dd07's oracle derives
    edges from the EXACT all-pairs definition, so its green status
    proves the band parameters lose no component structure ON THE TEST
    CORPORA (whose planted near-dups sit well above threshold) — it is
    a recall measurement, not a theorem. A corpus with a borderline
    ~0.5-Jaccard bridge edge can legitimately diverge with ~1%
    probability per such edge; production deployments pick (bands,
    rows) for their threshold and audit recall on samples against the
    brute-force definition (the DD04_EXACT_PAIRS_SQL oracle).
    """
    return minhash_lsh_pairs(
        docs, "doc_id", set_col, threshold=threshold, num_hashes=32, band_size=2
    ).select("doc_a", "doc_b")


def neardup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the shingle-Jaccard near-dup graph.

    Shared by dd06/dd08 (cluster report) and dd07 (canonical
    selection). Returns (doc_id, component) for every doc that
    participates in at least one near-dup edge; component = min doc_id
    reachable.
    """
    # Lazy import: graph.py imports dedup only inside query bodies, so
    # this direction is cycle-free regardless of registry order.
    from .graph import components_large_small_star

    documents = spread_scan(load_table(spark, sf_dir, "documents"))
    docs = documents.select("doc_id", _shingle_set(F.col("text")).alias("ws"))
    return components_large_small_star(neardup_edges(docs, "ws", threshold=0.5))


def components_propagation(pairs: DataFrame) -> DataFrame:
    """Min-label connected components over a (doc_a, doc_b) pair relation.

    Driver-coordinated label propagation (the dataflow form of
    Pregel/GraphX): each round every node takes the min of its own and
    its neighbors' labels — one shuffle keyed on node per round, rounds
    = graph diameter. ``localCheckpoint`` after each round truncates
    lineage so the plan doesn't grow with iterations. Convergence is an
    exact fixpoint (no label changed), not a fixed round count.

    Production consumers use graph.components_large_small_star, whose
    round count does not grow with the diameter; this is its
    independent reference in the tests.
    """
    directed = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    edges = directed.union(
        directed.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=True)
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )

    def label_sum(df: DataFrame):
        # Exact decimal sum — labels are node ids, so int64 sums could
        # overflow on a petabyte graph; decimal(38,0) cannot.
        return df.agg(F.sum(F.col("label").cast("decimal(38,0)"))).collect()[0][0]

    # Convergence check without a labels⋈labels join: min-propagation
    # labels are monotonically non-increasing, so the (exact) label sum
    # is strictly smaller after any change — sum equality IS the
    # fixpoint certificate, at the cost of one tiny aggregate per round
    # over the already-checkpointed relation.
    prev_sum = label_sum(labels)
    while True:
        nbr = edges.join(labels, edges["src"] == labels["node"]).select(
            F.col("dst").alias("node"), "label"
        )
        new_labels = (
            labels.unionByName(nbr)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            # Lazy: the label_sum aggregate right below materializes the
            # checkpoint in the same job (the large-star fusion, r10).
            .localCheckpoint(eager=False)
        )
        labels = new_labels
        new_sum = label_sum(labels)
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("component"))


@query(
    "dd07_canonical_docs",
    oracle=DD06_COMPONENT_CTE
    + """
    , ranked AS (
        SELECT c.doc_id, c.component, d.n_chars,
               ROW_NUMBER() OVER (PARTITION BY c.component
                                  ORDER BY d.n_chars DESC, c.doc_id ASC) AS rn
        FROM comp c JOIN documents d ON c.doc_id = d.doc_id
    ), canon AS (
        SELECT component, doc_id AS canonical_doc_id FROM ranked WHERE rn = 1
    )
    SELECT r.doc_id, r.component, k.canonical_doc_id,
           r.doc_id = k.canonical_doc_id AS keep
    FROM ranked r JOIN canon k ON r.component = k.component
    ORDER BY r.doc_id
    """,
)
def dd07_canonical_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection inside each near-dup cluster.

    The decision step that turns dd06's clusters into a dedup ACTION:
    keep exactly one survivor per component — the longest document
    (n_chars), ties broken by min doc_id — and mark the rest as drops.
    This is how production dedup keeps the best copy rather than an
    arbitrary one (quality-aware survivor selection). The canonical doc
    is computed as a ``max_by(doc_id, struct(n_chars, -doc_id))`` hash
    aggregate — no per-component sort, map-side combine, one buffer row
    per component (the PERF.md argmax lesson) — then re-joined to the
    membership list. Components are near-dup-cluster-sized (tiny), so
    everything after edge generation moves KBs.
    """
    comp = neardup_components(spark, sf_dir)
    documents = load_table(spark, sf_dir, "documents")
    with_len = comp.join(documents.select("doc_id", "n_chars"), "doc_id")
    canon = with_len.groupBy("component").agg(
        F.max_by(
            "doc_id", F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("neg"))
        ).alias("canonical_doc_id")
    )
    return (
        with_len.join(canon, "component")
        .select(
            "doc_id",
            "component",
            "canonical_doc_id",
            (F.col("doc_id") == F.col("canonical_doc_id")).alias("keep"),
        )
        .orderBy("doc_id")
    )


# Span width for substring-level dedup: long enough that a shared span
# implies copied text rather than a common phrase, short enough that
# partially-copied docs still register (Lee et al. use 50 BPE tokens at
# corpus scale; 6 words fits the synthetic corpus's 10-60-word docs).
SPAN_W = 6


def _token_spans(text: Column, w: int = SPAN_W) -> Column:
    """All ``w``-word spans of a document, in position order: the word
    ``w``-grams (functions.text.ngrams). Unlike shingles these are NOT
    deduplicated: dd09 counts positions, so a span repeated inside one
    document keeps its multiplicity. Docs under ``w`` words emit no
    spans.
    """
    return ngrams(words(text), w)


@query(
    "dd09_duplicate_spans",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {words_sql()} AS t FROM documents
    ), spans AS (
        SELECT doc_id, UNNEST({ngrams_sql("t", SPAN_W)}) AS span FROM toks
    ), dup AS (
        SELECT span FROM spans GROUP BY span
        HAVING COUNT(DISTINCT doc_id) >= 2
    )
    SELECT s.doc_id,
           COUNT(*) AS n_spans,
           COUNT(d.span) AS n_dup_spans,
           ROUND(COUNT(d.span) * 1.0 / COUNT(*), 6) AS dup_frac
    FROM spans s LEFT JOIN dup d ON s.span = d.span
    GROUP BY s.doc_id
    ORDER BY s.doc_id
    """,
)
def dd09_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level exact dedup: token spans shared across documents.

    The third granularity of the dedup ladder — document-level (dd01),
    near-document (dd04-dd07), and this: EXACT w-token spans that occur
    in two or more DISTINCT documents, per Lee et al.'s finding that
    training corpora carry massive substring-level duplication that
    document-level dedup never sees (boilerplate, licenses, quoted
    chunks). Output is the per-document contamination profile: total
    spans, spans whose text also appears elsewhere, and the duplicated
    fraction — the score a curation pipeline thresholds or uses to
    strip spans.

    Scale shape (the suffix-array alternative's dataflow twin): ONE
    scan/tokenize, one explode to ~N_tokens span rows, then a groupBy
    to the (span, doc) grain with within-doc position counts — the
    shuffle is keyed on span content, the same Θ(corpus tokens) sort
    any substring-dedup method pays. The cross-doc occurrence count is
    a window over the span partition AT THAT GRAIN (partition size =
    docs sharing the span — tiny), which replaces the naive
    dup-set-join formulation: no second tokenize scan, no span-keyed
    join, and no reliance on the dup relation fitting a broadcast.
    Then one per-doc partial agg. No pairwise comparisons anywhere, so
    cost is linear in corpus size regardless of how many documents
    share a span. Within-doc repeats keep their position multiplicity
    but only cross-doc occurrence flags a span (COUNT(DISTINCT
    doc_id) >= 2 on both engines).
    """
    from pyspark.sql import Window

    documents = spread_scan(load_table(spark, sf_dir, "documents"))
    spans = documents.select(
        "doc_id", F.explode(_token_spans(F.col("text"))).alias("span")
    )
    # One span-keyed exchange serves BOTH the (span, doc) groupBy
    # (subset clustering satisfies it) and the span window — without
    # it Spark plans two back-to-back shuffles of nearly the same
    # relation. Trade: the groupBy loses its map-side combine, but
    # within-doc repeat spans are rare, so raw span rows ≈ combined
    # rows and one shuffle beats two.
    per_doc_span = (
        spans.repartition("span").groupBy("span", "doc_id").agg(F.count("*").alias("npos"))
    )
    # docs-per-span at the (span, doc) grain == COUNT(DISTINCT doc_id)
    nd = F.count("*").over(Window.partitionBy("span"))
    flagged = per_doc_span.withColumn("nd", nd)
    dup_pos = F.sum(F.when(F.col("nd") >= 2, F.col("npos")).otherwise(F.lit(0)))
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.sum("npos").alias("n_spans"),
            dup_pos.alias("n_dup_spans"),
            F.round(dup_pos / F.sum("npos"), 6).alias("dup_frac"),
        )
        .orderBy("doc_id")
    )


@query(
    "dd10_span_dedup_apply",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {words_sql()} AS t FROM documents
    ), occ AS (
        SELECT doc_id, {ngrams_sql("t", SPAN_W)} AS sp FROM toks
    ), spans AS (
        SELECT doc_id, GENERATE_SUBSCRIPTS(sp, 1) AS pos, UNNEST(sp) AS span
        FROM occ
    ), flagged AS (
        SELECT doc_id, pos,
               COUNT(*) OVER (PARTITION BY span) AS n_occ,
               ROW_NUMBER() OVER (PARTITION BY span
                                  ORDER BY doc_id, pos) AS rn
        FROM spans
    ), noncanon AS (
        SELECT doc_id, pos FROM flagged WHERE n_occ >= 2 AND rn > 1
    ), mask AS (
        SELECT DISTINCT doc_id,
               pos + UNNEST(RANGE(0, {SPAN_W})) AS tokpos
        FROM noncanon
    ), alltok AS (
        SELECT doc_id, UNNEST(RANGE(1, LEN(t) + 1)) AS tokpos, t
        FROM toks
    ), kept AS (
        SELECT a.doc_id, a.tokpos, a.t[a.tokpos] AS token
        FROM alltok a LEFT JOIN mask m
          ON a.doc_id = m.doc_id AND a.tokpos = m.tokpos
        WHERE m.doc_id IS NULL
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens_kept,
           STRING_AGG(token, ' ' ORDER BY tokpos) AS dedup_text
    FROM kept GROUP BY doc_id ORDER BY doc_id
    """,
)
def dd10_span_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring dedup APPLIED: strip every non-canonical occurrence of
    a duplicated token span, keep the earliest.

    dd09 profiles span duplication; this is the action (Lee et al.'s
    deduplicate-training-data rewrite at token granularity): for every
    span occurring ≥ 2 times in the corpus — within or across docs —
    the earliest occurrence (lowest (doc_id, pos)) survives and all
    other occurrences mark their token range for deletion; documents
    are rebuilt from the surviving tokens. Overlapping duplicated spans
    union their masks, so runs of copied text vanish as a block while
    the canonical copy stays intact. Fully-duplicated documents rebuild
    to nothing and drop out — document-level dedup as the degenerate
    case of substring-level.

    Scale shape: one span-keyed exchange computes BOTH the global
    occurrence count and the canonical rank (two window functions over
    the same partition — no self-join with a dup set); the deletion
    mask explodes W rows per non-canonical occurrence (rare by
    definition at healthy dup rates); the rebuild is one (doc, tokpos)
    anti-join and a per-doc sort-aggregate. Everything is keyed on
    span or doc — linear dataflow, no pairwise work, same Θ(corpus
    tokens) span sort dd09 pays.
    """
    documents = spread_scan(load_table(spark, sf_dir, "documents"))
    return span_dedup_apply(documents).orderBy("doc_id")


def span_dedup_apply(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", w: int = SPAN_W
) -> DataFrame:
    """Library form of dd10 over any (id, text) relation.

    Returns (id, n_tokens_kept, dedup_text); rows whose every token is
    masked (fully-duplicated documents) are absent. See
    dd10_span_dedup_apply for semantics and the scale argument.
    """
    from pyspark.sql import Window

    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        words(text_col).alias("t"),
    )
    spans = toks.select(
        "doc_id",
        F.posexplode(ngrams(F.col("t"), w)).alias("pos0", "span"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "span")
    wspan = Window.partitionBy("span")
    flagged = spans.select(
        "doc_id",
        "pos",
        F.count("*").over(wspan).alias("n_occ"),
        F.row_number().over(wspan.orderBy("doc_id", "pos")).alias("rn"),
    )
    noncanon = flagged.filter((F.col("n_occ") >= 2) & (F.col("rn") > 1))
    mask = noncanon.select(
        "doc_id",
        F.explode(F.sequence(F.col("pos"), F.col("pos") + (w - 1))).alias("tokpos"),
    ).distinct()
    alltok = toks.select(
        "doc_id", F.posexplode(F.col("t")).alias("p0", "token")
    ).select("doc_id", (F.col("p0") + 1).alias("tokpos"), "token")
    kept = alltok.join(mask, ["doc_id", "tokpos"], "left_anti")
    return (
        kept.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens_kept"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("tokpos", "token"))),
                    lambda s: s["token"],
                ),
            ).alias("dedup_text"),
        )
        .withColumnRenamed("doc_id", id_col)
    )


CHAR_W = 20


@query(
    "dd11_char_span_dedup",
    oracle=f"""
    WITH base AS (
        SELECT doc_id, LOWER(text) AS s, LENGTH(LOWER(text)) AS n FROM documents
    ), occ AS (
        SELECT doc_id, UNNEST(RANGE(1, n - {CHAR_W - 2})) AS pos
        FROM base WHERE n >= {CHAR_W}
    ), spans AS (
        SELECT o.doc_id, o.pos, substr(b.s, o.pos, {CHAR_W}) AS span
        FROM occ o JOIN base b ON o.doc_id = b.doc_id
    ), flagged AS (
        SELECT doc_id, pos,
               COUNT(*) OVER (PARTITION BY span) AS n_occ,
               ROW_NUMBER() OVER (PARTITION BY span
                                  ORDER BY doc_id, pos) AS rn
        FROM spans
    ), noncanon AS (
        SELECT doc_id, pos, pos + {CHAR_W - 1} AS endpos
        FROM flagged WHERE n_occ >= 2 AND rn > 1
    ), runm AS (
        SELECT doc_id, pos,
               MAX(endpos) OVER (PARTITION BY doc_id ORDER BY pos
                                 ROWS UNBOUNDED PRECEDING) AS runmax
        FROM noncanon
    ), stepped AS (
        SELECT doc_id, pos, runmax,
               CASE WHEN pos > COALESCE(LAG(runmax) OVER (
                        PARTITION BY doc_id ORDER BY pos), 0) + 1
                    THEN 1 ELSE 0 END AS brk
        FROM runm
    ), grp AS (
        SELECT doc_id, pos, runmax,
               SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS UNBOUNDED PRECEDING) AS g
        FROM stepped
    ), merged AS (
        SELECT doc_id, MIN(pos) AS mstart, MAX(runmax) AS mend
        FROM grp GROUP BY doc_id, g
    ), gaps AS (
        SELECT doc_id,
               COALESCE(LAG(mend) OVER (PARTITION BY doc_id
                                        ORDER BY mstart), 0) + 1 AS gstart,
               mstart - 1 AS gend
        FROM merged
    ), tails AS (
        SELECT m.doc_id, MAX(m.mend) + 1 AS gstart, ANY_VALUE(b.n) AS gend
        FROM merged m JOIN base b ON m.doc_id = b.doc_id
        GROUP BY m.doc_id
    ), pieces AS (
        SELECT g.doc_id, g.gstart,
               substr(b.s, g.gstart, g.gend - g.gstart + 1) AS piece
        FROM (SELECT * FROM gaps UNION ALL SELECT * FROM tails) g
        JOIN base b ON g.doc_id = b.doc_id
        WHERE g.gend >= g.gstart
    ), rebuilt AS (
        SELECT doc_id,
               CAST(SUM(LENGTH(piece)) AS BIGINT) AS n_chars_kept,
               STRING_AGG(piece, '' ORDER BY gstart) AS dedup_text
        FROM pieces GROUP BY doc_id
    ), untouched AS (
        SELECT doc_id, CAST(n AS BIGINT) AS n_chars_kept, s AS dedup_text
        FROM base
        WHERE doc_id NOT IN (SELECT doc_id FROM noncanon)
    )
    SELECT * FROM rebuilt
    UNION ALL
    SELECT * FROM untouched
    ORDER BY doc_id
    """,
)
def dd11_char_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level substring dedup APPLIED (Lee et al.'s granularity).

    dd10 strips duplicated TOKEN spans; the original deduplicate-
    training-data method works on raw character windows (their
    suffix-array pass uses 50-byte substrings), which also catches
    duplication that tokenization splits differently (punctuation,
    whitespace variants). For every {CHAR_W}-char window occurring ≥ 2
    times corpus-wide, the earliest occurrence (lowest (doc_id, pos))
    survives; every other occurrence masks its character range, and
    documents are rebuilt from the unmasked gaps. Fully-duplicated
    documents rebuild to nothing and drop out.

    Scale shape — the reason this is NOT dd10 with a finer split: a
    per-character mask relation would explode W rows per duplicated
    occurrence (~20× corpus characters on a repetitive corpus). Instead
    masked ranges are MERGED AS INTERVALS per document — running-max
    over the doc-ordered window, break where a range starts past the
    running end, one group-by to (start, end) — and the text is rebuilt
    from the gap substrings between merged intervals. Row counts stay
    at the span grain end-to-end: one span-keyed exchange for the
    occurrence count + canonical rank (same as dd10), then doc-keyed
    windows over the (rare) duplicated occurrences only. The interval
    merge is the same pattern as w09's validity intervals — reused here
    to keep a 100 TB corpus's mask linear in duplicated spans, not
    characters.
    """
    documents = spread_scan(load_table(spark, sf_dir, "documents"))
    return char_span_dedup_apply(documents).orderBy("doc_id")


def char_span_dedup_apply(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", w: int = CHAR_W
) -> DataFrame:
    """Library form of dd11 over any (id, text) relation.

    Returns (id, n_chars_kept, dedup_text); fully-masked rows are
    absent. See dd11_char_span_dedup for semantics and scale argument.
    """
    from pyspark.sql import Window

    base = docs.select(
        F.col(id_col).alias("doc_id"), F.lower(F.col(text_col)).alias("s")
    ).withColumn("n", F.length("s"))
    occ = base.filter(F.col("n") >= w).select(
        "doc_id",
        "s",
        F.explode(F.sequence(F.lit(1), F.col("n") - (w - 1))).alias("pos"),
    )
    # Hash prefilter before the exact span window (r10, guide §2.3
    # "shuffle keys instead of payloads"): the old plan shuffled EVERY
    # char position with its w-char span string through one span-keyed
    # exchange — ~(w + 16) bytes per corpus character, the dominant
    # shuffle at scale. Duplicated positions are rare (9.2% at sf0.1),
    # so: (1) one count-over-window keyed on xxhash64(span) — an
    # 8-byte key, so the full-corpus exchange moves ~24 bytes per
    # position instead of ~(w + 16); (2) keep only positions whose
    # hash repeats; (3) re-derive the REAL span for those positions
    # and run the exact count/rank window over the span string on
    # that small subset. Exactness is unchanged: equal spans always
    # share a hash (no true duplicate can be dropped), a hash
    # collision only adds candidate rows, and every occurrence of a
    # span lands in the candidate set together, so the in-subset
    # count IS the global count. Measured locally neutral at sf0.1
    # (2.9 → 2.7 s paired); the (w+16)→24 byte-per-character shuffle
    # reduction is the term that dominates at 100 TB.
    hs = occ.select(
        "doc_id",
        "pos",
        F.xxhash64(F.expr(f"substring(s, pos, {w})")).alias("h"),
    )
    whash = Window.partitionBy("h")
    cand = (
        hs.withColumn("n_h", F.count("*").over(whash))
        .filter(F.col("n_h") >= 2)
        .select("doc_id", "pos")
    )
    cspans = cand.join(base.select("doc_id", "s"), "doc_id").select(
        "doc_id", "pos", F.expr(f"substring(s, pos, {w})").alias("span")
    )
    wspan = Window.partitionBy("span")
    flagged = cspans.select(
        "doc_id",
        "pos",
        F.count("*").over(wspan).alias("n_occ"),
        F.row_number().over(wspan.orderBy("doc_id", "pos")).alias("rn"),
    )
    noncanon = flagged.filter((F.col("n_occ") >= 2) & (F.col("rn") > 1)).select(
        "doc_id", "pos", (F.col("pos") + (w - 1)).alias("endpos")
    )
    wdoc = Window.partitionBy("doc_id").orderBy("pos")
    runm = noncanon.select(
        "doc_id",
        "pos",
        F.max("endpos")
        .over(wdoc.rowsBetween(Window.unboundedPreceding, 0))
        .alias("runmax"),
    )
    stepped = runm.select(
        "doc_id",
        "pos",
        "runmax",
        F.when(
            F.col("pos") > F.coalesce(F.lag("runmax").over(wdoc), F.lit(0)) + 1, 1
        )
        .otherwise(0)
        .alias("brk"),
    )
    grp = stepped.select(
        "doc_id",
        "pos",
        "runmax",
        F.sum("brk").over(wdoc.rowsBetween(Window.unboundedPreceding, 0)).alias("g"),
    )
    merged = grp.groupBy("doc_id", "g").agg(
        F.min("pos").alias("mstart"), F.max("runmax").alias("mend")
    )
    wm = Window.partitionBy("doc_id").orderBy("mstart")
    gaps = merged.select(
        "doc_id",
        (F.coalesce(F.lag("mend").over(wm), F.lit(0)) + 1).alias("gstart"),
        (F.col("mstart") - 1).alias("gend"),
    )
    tails = (
        merged.groupBy("doc_id")
        .agg((F.max("mend") + 1).alias("gstart"))
        .join(base.select("doc_id", F.col("n").alias("gend")), "doc_id")
    )
    pieces = (
        gaps.unionByName(tails)
        .filter(F.col("gend") >= F.col("gstart"))
        .join(base.select("doc_id", "s"), "doc_id")
        .select(
            "doc_id",
            "gstart",
            F.expr("substring(s, gstart, gend - gstart + 1)").alias("piece"),
        )
    )
    rebuilt = pieces.groupBy("doc_id").agg(
        F.sum(F.length("piece")).cast("long").alias("n_chars_kept"),
        F.concat_ws(
            "",
            F.transform(
                F.array_sort(F.collect_list(F.struct("gstart", "piece"))),
                lambda x: x["piece"],
            ),
        ).alias("dedup_text"),
    )
    untouched = base.join(
        noncanon.select("doc_id").distinct(), "doc_id", "left_anti"
    ).select(
        "doc_id",
        F.col("n").cast("long").alias("n_chars_kept"),
        F.col("s").alias("dedup_text"),
    )
    return rebuilt.unionByName(untouched).withColumnRenamed("doc_id", id_col)


def jaccard_join_prefix(
    docs: DataFrame,
    id_col: str = "doc_id",
    set_col: str = "ws",
    t_num: int = 4,
    t_den: int = 5,
) -> DataFrame:
    """EXACT Jaccard similarity join via prefix filtering (AllPairs).

    Same answer as the brute-force all-pairs scan (dd03), never O(n²):
    the prefix-filter principle (Chaudhuri et al. SSJoin / Bayardo et
    al. "Scaling Up All Pairs", WWW'07). Order the vocabulary by
    ascending document frequency (rarest first); a document of set size
    ``s`` exposes only its first ``s - ceil(t·s) + 1`` tokens in that
    order. Any pair with J ≥ t MUST share an exposed token, so the
    candidate join runs on the prefix relation — keyed on tokens chosen
    to be RARE, which is what bounds block sizes (Σ df_prefix², the
    same argument as er01's blocking). Candidates then verify with the
    exact intersection, so the output is provably identical to brute
    force — unlike MinHash-LSH (dd04) there is no recall loss, which is
    why this query can share dd03's full hash-compared oracle.

    Determinism details:
    - the threshold is the RATIONAL t_num/t_den and the prefix length
      uses pure integer arithmetic (``ceil(t·s) = (t_num·s + t_den -
      1) div t_den``): ``ceil(0.8 × 5)`` in IEEE doubles is 5, not 4 —
      a float prefix would silently drop true pairs.
    - the frequency order breaks df ties by token text, so the prefix
      is engine-independent (not that the RESULT depends on it — any
      total order is correct — but stable plans beat flaky ones).
    - the final J ≥ t filter compares the same double division the
      oracle computes, bit-identical on both engines.

    Scale shape: one explode + token-keyed groupBy for df
    (vocabulary-sized), one per-doc window to take the prefix, the
    prefix-token self-join (small blocks by construction), then two
    doc-keyed joins to fetch full sets for verification. The size
    filter ``t·|a| ≤ |b| ≤ |a|/t`` (integer cross-multiplied) prunes
    candidates before verification.
    """
    # Pins: ``base`` carries the caller's set projection (dd12's
    # shingling) and feeds toks plus BOTH verify joins; ``toks`` feeds
    # dfreq and the prefix derivation. Without the pins each branch
    # re-runs the projection/explode. The prefix relation feeds BOTH
    # sides of the candidate self-join; unpinned, the df join + per-doc
    # window shuffle run twice (Spark's exchange reuse does not unify
    # the two aliased subplans here).
    pin = generation("jaccard_join_prefix")
    base, _, prefix = _prefix_index(docs, id_col, set_col, t_num, t_den, pin)
    prefix = pin(prefix)
    cands = bucket_pairs(
        prefix,
        prefix,
        ["token"],
        # size filter: t·sz_a ≤ sz_b and t·sz_b ≤ sz_a
        where=(
            F.lit(t_num) * F.col("a.sz") <= F.lit(t_den) * F.col("b.sz"),
            F.lit(t_num) * F.col("b.sz") <= F.lit(t_den) * F.col("a.sz"),
        ),
    )
    return jaccard_verify(cands, base, "ws", t_num / t_den)


def _prefix_index(
    docs: DataFrame, id_col: str, set_col: str, t_num: int, t_den: int, pin
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """``(base, toks, prefix)`` of the rarest-first prefix filter:
    ``base`` (doc_id, ws, sz) and its explode ``toks`` (doc_id, sz,
    token), both pinned by ``pin``, and ``prefix`` — each doc's first
    ``sz - ceil(t·sz) + 1`` tokens by ascending document frequency, ties
    by token, with t = t_num/t_den in integer arithmetic."""
    from pyspark.sql import Window

    base = pin(
        docs.select(
            F.col(id_col).alias("doc_id"), F.col(set_col).alias("ws")
        ).withColumn("sz", F.size("ws"))
    )
    toks = pin(base.select("doc_id", "sz", F.explode("ws").alias("token")))
    dfreq = toks.groupBy("token").agg(F.count("*").alias("df"))
    # prefix length p = sz - ceil(t*sz) + 1, integer-exact
    p = F.col("sz") - F.expr(f"({t_num} * sz + {t_den - 1}) div {t_den}") + 1
    wdoc = Window.partitionBy("doc_id").orderBy("df", "token")
    prefix = (
        toks.join(dfreq, "token")
        .withColumn("rn", F.row_number().over(wdoc))
        .filter(F.col("rn") <= p)
        .select("doc_id", "sz", "token")
    )
    return base, toks, prefix


@query(
    "dd12_prefix_filter_jaccard",
    oracle=DD04_EXACT_PAIRS_SQL,
)
def dd12_prefix_filter_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The near-dup edge relation (dd04/dd06's input) computed EXACTLY,
    without the cross join: prefix filtering over shingle sets.

    Same shingle sets and 0.5 threshold as the dd06 pipeline, so this
    is an EXACT drop-in for the MinHash-LSH edge generator — zero
    recall loss instead of LSH's ~1% per borderline edge — certified
    against the brute-force all-pairs oracle. See
    :func:`jaccard_join_prefix` for the algorithm and integer-exactness
    notes. This completes the similarity-join ladder: exact-brute
    (dd03, oracle baseline), exact-scalable (this), approximate-
    scalable (dd04 LSH; cheaper when its recall is acceptable).

    Why shingles and not dd03's word sets: prefix filtering is output-
    sensitive. On 3-gram shingles similarity concentrates on true
    near-copies, matches are rare, and the rare-token prefix join stays
    near-linear. Word sets on a small vocabulary SATURATE — at sf0.1
    roughly 3M of the ~1.25G possible pairs genuinely exceed J ≥ 0.8,
    so ANY exact algorithm's output (and verify cost) is quadratic-ish
    there; that regime belongs to the brute-force baseline, not the
    scale path (measured: 65 s at sf0.1 on word sets vs ~1 s here).
    """
    documents = load_table(spark, sf_dir, "documents")
    docs = documents.select("doc_id", _shingle_set(F.col("text")).alias("ws"))
    return jaccard_join_prefix(docs, t_num=1, t_den=2)


def minhash_index_rows(
    docs: DataFrame,
    id_col: str = "doc_id",
    set_col: str = "shingles",
    num_hashes: int = NUM_HASHES,
    band_size: int = BAND_SIZE,
) -> tuple[DataFrame, DataFrame]:
    """Storable LSH index relations for a (id, token-set) batch.

    Returns ``(bands, hsets)``: the banded bucket keys
    (id, band_id, band_hash) and the hashed token sets (id, hset) —
    exactly the two relations a persistent near-dup index needs (bucket
    probes join on the first, exact-Jaccard verification on the
    second; storing them separately avoids duplicating the hset across
    a doc's bands). Same signature arithmetic as
    :func:`minhash_lsh_pairs`, as a pure per-row projection — so an
    index built batch-by-batch (streaming) and one built in a single
    pass produce byte-identical rows — enforced structurally: both
    paths call the same two builders.
    """
    per_doc = _minhash_per_doc(docs, id_col, set_col, num_hashes)
    bands = _minhash_bands(per_doc, id_col, num_hashes, band_size)
    return bands, per_doc.select(id_col, "hset")


def _minhash_per_doc(
    docs: DataFrame, id_col: str, set_col: str, num_hashes: int
) -> DataFrame:
    """(id, hset, mh0..mhN-1): hashed token set + minhash slots, as a
    pure per-row projection (see minhash_lsh_pairs for the no-shuffle
    argument). THE single source of truth for signature arithmetic —
    minhash_lsh_pairs (batch) and minhash_index_rows (stored/streaming
    index) both build on it."""
    hset = F.transform(F.col(set_col), lambda t: F.xxhash64(t))
    sig_cols = [
        F.array_min(
            F.transform(F.col("hset"), lambda h: F.xxhash64(h, F.lit(i)))
        ).alias(f"mh{i}")
        for i in range(num_hashes)
    ]
    return docs.select(id_col, hset.alias("hset")).select(id_col, "hset", *sig_cols)


def _minhash_bands(
    per_doc: DataFrame, id_col: str, num_hashes: int, band_size: int
) -> DataFrame:
    """(id, band_id, band_hash) LSH bucket keys from _minhash_per_doc
    output; the shared twin of the signature builder above."""
    return _explode_bands(
        per_doc,
        [id_col],
        [
            F.struct(
                F.lit(band).alias("band_id"),
                F.xxhash64(
                    *[F.col(f"mh{band * band_size + r}") for r in range(band_size)]
                ).alias("band_hash"),
            )
            for band in range(num_hashes // band_size)
        ],
    )


# --- dd13: exact containment join (quote / partial-dup detection) -----------


def containment_join_prefix(
    docs: DataFrame,
    id_col: str = "doc_id",
    set_col: str = "ws",
    t_num: int = 7,
    t_den: int = 10,
) -> DataFrame:
    """EXACT containment join: ordered pairs with |A∩B| ≥ t·|A|.

    Containment C(A→B) = |A∩B| / |A| is the asymmetric twin of Jaccard:
    a 50-shingle quote embedded in a 5000-shingle page scores C ≈ 1
    where J ≈ 0.01 — the pairs a Jaccard join (dd03/dd04/dd12)
    STRUCTURALLY cannot surface, and exactly the pairs that matter for
    quote detection, boilerplate containment, and train-set documents
    swallowed whole by larger crawl pages.

    Prefix-filter argument (asymmetric form): order the vocabulary
    rarest-first and let the CONTAINED side A expose only its first
    ``|A| − ceil(t·|A|) + 1`` tokens. If the first p_A tokens of A all
    miss B, the overlap is at most ``|A| − p_A = ceil(t·|A|) − 1`` —
    below threshold — so every qualifying pair shares an exposed
    A-token. The container side B has no prefix (its required overlap
    depends on its PARTNER's size), so candidates come from probing
    A-prefix tokens against the full token relation — the classic
    inverted-index probe, cost Σ_{a,tok∈prefix(a)} df(tok), bounded by
    the rarest-first order exactly as in :func:`jaccard_join_prefix`.
    The size filter ``t_den·|B| ≥ t_num·|A|`` (an integer ≥ a real iff
    ≥ its ceil) prunes containers too small to hold the overlap.

    Integer-exactness: prefix length and both threshold comparisons use
    the rational t_num/t_den with integer cross-multiplication — see
    jaccard_join_prefix for why a float ``ceil(0.8·5)`` silently drops
    true pairs. Verification compares ``t_den·|A∩B| ≥ t_num·|A|``
    exactly; only the reported score divides.
    """
    # Pins: ``base`` carries the shingle-set projection — the expensive
    # per-row zip/slice/distinct work — and feeds toks plus BOTH verify
    # joins; ``toks`` (the explode) feeds dfreq, the prefix derivation,
    # and the container side of the candidate probe. Without the pins
    # each of those branches re-runs the shingling (measured 3× base +
    # 3× toks instantiations in the dd13 plan).
    pin = generation("containment_join_prefix")
    base, toks, prefix = _prefix_index(docs, id_col, set_col, t_num, t_den, pin)
    cands = bucket_pairs(
        prefix,
        toks,
        ["token"],
        op=operator.ne,
        # container big enough: t_den·sz_b ≥ t_num·sz_a ⇔ sz_b ≥ ceil(t·sz_a)
        where=(F.lit(t_den) * F.col("b.sz") >= F.lit(t_num) * F.col("a.sz"),),
    )
    inter, _ = jaccard_score(F.col("ws_a"), F.col("ws_b"))
    return (
        fetch_sets(cands, base, "ws")
        .filter(F.lit(t_den) * inter >= F.lit(t_num) * F.size("ws_a"))
        .select(
            "doc_a",
            "doc_b",
            F.round(inter * F.lit(1.0) / F.size("ws_a"), 6).alias("containment"),
        )
    )


@query(
    "dd13_containment_join",
    oracle="WITH "
    + _SHINGLE_CTES
    + """
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           ROUND(LEN(LIST_INTERSECT(a.ws, b.ws)) * 1.0 / LEN(a.ws), 6)
               AS containment
    FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
    WHERE 10 * LEN(LIST_INTERSECT(a.ws, b.ws)) >= 7 * LEN(a.ws)
    """,
)
def dd13_containment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed quote/containment pairs: 70 % of doc_a's shingles inside doc_b.

    Completes the similarity-join geometry ladder: symmetric Jaccard
    (dd03 brute / dd12 prefix-exact / dd04 LSH-approximate) finds
    near-COPIES; this finds near-CONTAINMENTS — short documents
    swallowed by longer ones, the case Jaccard's union denominator
    hides. Same shingle sets as dd06/dd12, exact prefix-filter
    algorithm in :func:`containment_join_prefix`, certified against the
    brute-force ordered-pair oracle.
    """
    documents = load_table(spark, sf_dir, "documents")
    docs = documents.select("doc_id", _shingle_set(F.col("text")).alias("ws"))
    return containment_join_prefix(docs, t_num=7, t_den=10)


# --- dd14: n-gram novelty profile ----------------------------------------------


@query(
    "dd14_ngram_novelty",
    oracle=f"""
    WITH labeled AS (
        SELECT doc_id, {words_sql()} AS l FROM documents
    ),
    shingled AS (
        SELECT DISTINCT doc_id, sh
        FROM (
            SELECT doc_id, UNNEST({TRIGRAMS_SQL}) AS sh
            FROM labeled
        )
    ),
    first_seen AS (
        SELECT sh, MIN(doc_id) AS first_doc FROM shingled GROUP BY sh
    )
    SELECT s.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) AS BIGINT)
               AS n_novel,
           ROUND(100.0 * SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
                 / COUNT(*), 4) AS novelty_pct
    FROM shingled s JOIN first_seen f ON s.sh = f.sh
    GROUP BY s.doc_id
    ORDER BY s.doc_id
    """,
)
def dd14_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a doc's word
    3-grams never seen in any earlier document (doc_id = ingest order).

    The corpus-redundancy curve behind the dedup family's WHY (Lee et
    al., "Deduplicating Training Data Makes Language Models Better"):
    span dedup (dd09) and near-dup clustering (dd06) act on the
    duplicates this measures. First-seen attribution is a MIN over the
    shingle key — order-free and exact, unlike a running "seen so far"
    scan — so the whole profile is one shingle-keyed aggregate joined
    back to the per-doc shingle relation (the join reuses the same
    shingle-key exchange). Shingle-less docs (< 3 words) have no
    novelty to measure and are absent by construction on BOTH sides.

    Scale shape: linear explode, two shuffles on one key family, and
    the percentage is the only float (same ROUND on both engines). At
    100 TB the first_seen relation is the stored shingle index the
    span-dedup pass already builds — this query is a free byproduct.

    Parity: beyond-reference (§2.11 dedup-analytics extension; seed
    cbddl/src/etl/pipeline.py:296 dedup keys).
    """
    documents = load_table(spark, sf_dir, "documents")
    shingled = documents.select(
        "doc_id", F.explode(_trigram_set(F.col("text"))).alias("sh")
    )
    first_seen = shingled.groupBy("sh").agg(F.min("doc_id").alias("first_doc"))
    return (
        shingled.join(first_seen, "sh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_novel",
            F.round(
                100.0 * F.col("n_novel") / F.col("n_shingles"), 4
            ).alias("novelty_pct"),
        )
        .orderBy("doc_id")
    )


# --- dd15: SimHash hamming pairs via pigeonhole banding -------------------------

HAMMING_MAX = 3  # Manku et al.'s k: 4 bands ⇒ any pair ≤ 3 bits apart collides

_DD15_ORACLE = f"""
    WITH {SIMHASH_CTES}
    , fp AS (SELECT doc_id, simhash, {SIMHASH_BANDS_SQL} FROM packed)
    , bands AS (
        SELECT doc_id, simhash, i AS band_idx,
               {simhash_band_sql(f"({SIMHASH_BAND} * i)")} AS band_val
        FROM fp, GENERATE_SERIES(0, 3) AS g(i)
    ), cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.simhash AS sim_a, b.simhash AS sim_b
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_val = b.band_val
         AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(BIT_COUNT(XOR(sim_a, sim_b)) AS BIGINT) AS hamming
    FROM cand
    WHERE BIT_COUNT(XOR(sim_a, sim_b)) <= {HAMMING_MAX}
    ORDER BY doc_a, doc_b
"""


@query("dd15_simhash_hamming_pairs", oracle=_DD15_ORACLE)
def dd15_simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All document pairs within HAMMING_MAX bits on the 60-bit SimHash
    — dd05's fingerprint turned into PAIRS without an all-pairs scan.

    Manku, Jain & Das Sarma's crawl-dedup recipe (WWW'07), exact by
    the pigeonhole principle: split the fingerprint into
    HAMMING_MAX + 1 bands — two fingerprints ≤ 3 bits apart cannot
    differ in all 4 bands, so they MUST share at least one band value
    verbatim. Candidates = band-equality join (never n²); verification
    = one codegen expression, bit_count(a ^ b) ≤ 3. ZERO recall loss,
    unlike probabilistic MinHash banding (dd04) — the trade is that
    hamming-on-simhash is itself the approximation of similarity.

    Scale shape: the join keys on (band_idx, band_val) — 4×|corpus|
    rows against 2^15 values per band; near-identical fingerprint
    populations (exact dups) concentrate in one bucket, which is real
    duplicate mass, not hash skew (AQE skew-split handles the
    pathological all-same-page crawl). Verification and the distinct
    both stay on the canonical (doc_a < doc_b) pair key.

    Parity: beyond-reference (§2.11 dedup extension; the SimHash leg's
    pair-production step, completing dd05 the way dd04→dd06 completes
    MinHash). Reference seed: cbddl/src/etl/pipeline.py:296 dedup keys.
    """
    # Cache the fingerprints ONCE: the 60-fold vote projection is
    # a huge expression tree, and the band self-join would otherwise
    # inline it on BOTH sides (8 copies after the band explode) — the
    # unrolled-plan trap every iterative op here guards against.
    # A lazy pin (NOT eager localCheckpoint, dd17's pattern):
    # plan-only consumers pay nothing, and lineage survives executor
    # loss. Only the fixpoint loops (components_propagation) genuinely
    # need checkpoint truncation; this is a single-pass self-join.
    pin = generation("dd15_simhash_hamming_pairs")
    fp = pin(dd05_simhash(spark, sf_dir).select("doc_id", "simhash"))
    bands = _explode_bands(
        fp,
        ["doc_id", "simhash"],
        [
            F.struct(
                F.lit(i).alias("band_idx"),
                F.expr(simhash_band_sql(SIMHASH_BAND * i)).alias("band_val"),
            )
            for i in range(4)
        ],
    )
    cand = bucket_pairs(
        bands,
        bands,
        ["band_idx", "band_val"],
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.col("a.simhash").alias("sim_a"),
        F.col("b.simhash").alias("sim_b"),
    )
    hamming = F.expr("bit_count(sim_a ^ sim_b)")
    return (
        cand.filter(hamming <= HAMMING_MAX)
        .select("doc_a", "doc_b", hamming.cast("long").alias("hamming"))
        .orderBy("doc_a", "doc_b")
    )


# --- dd16: IDF-weighted Jaccard near-dup pairs -----------------------------------

DD16_THETA_X10 = 5  # keep pairs with 10·inter ≥ 5·union (weighted J ≥ 0.5)
DD16_BANDS = 4  # single-row minhash bands: recall ≈ 1-(1-J)^4 at Jaccard J

@query(
    "dd16_weighted_jaccard_pairs",
    oracle="WITH "
    + _SHINGLE_CTES
    + f"""
    , stoks AS (
        SELECT doc_id, UNNEST(ws) AS sg FROM sh
    ), n AS (
        SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs FROM stoks
    ), wt AS (
        SELECT sg, CAST((n.n_docs * 1000) // COUNT(DISTINCT doc_id) AS BIGINT) AS w
        FROM stoks, n GROUP BY sg, n.n_docs
    ), wtoks AS (
        SELECT t.doc_id, t.sg, wt.w FROM stoks t JOIN wt USING (sg)
    ), doc_sum AS (
        SELECT doc_id, CAST(SUM(w) AS BIGINT) AS total_w FROM wtoks GROUP BY doc_id
    ), mh AS (
        SELECT doc_id, k, MIN(MD5(CAST(k AS VARCHAR) || '|' || sg)) AS sig
        FROM stoks, GENERATE_SERIES(0, 3) AS g(k)
        GROUP BY doc_id, k
    ), cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM mh a JOIN mh b
          ON a.k = b.k AND a.sig = b.sig AND a.doc_id < b.doc_id
    ), inter AS (
        SELECT c.doc_a, c.doc_b, CAST(SUM(ta.w) AS BIGINT) AS inter_w
        FROM cand c
        JOIN wtoks ta ON ta.doc_id = c.doc_a
        JOIN wtoks tb ON tb.doc_id = c.doc_b AND tb.sg = ta.sg
        GROUP BY c.doc_a, c.doc_b
    )
    SELECT i.doc_a, i.doc_b, i.inter_w,
           sa.total_w + sb.total_w - i.inter_w AS union_w,
           CAST((1000 * i.inter_w) // (sa.total_w + sb.total_w - i.inter_w)
                AS BIGINT) AS jw_milli
    FROM inter i
    JOIN doc_sum sa ON sa.doc_id = i.doc_a
    JOIN doc_sum sb ON sb.doc_id = i.doc_b
    WHERE 10 * i.inter_w >= {DD16_THETA_X10} * (sa.total_w + sb.total_w - i.inter_w)
    ORDER BY jw_milli DESC, i.doc_a ASC, i.doc_b ASC
    """,
)
def dd16_weighted_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDF-weighted Jaccard near-dup pairs over the family's shared
    word-3-gram shingle universe: duplicates decided by RARE shared
    shingles, not boilerplate — the CCNet/RefinedWeb importance-weighted
    refinement of plain set Jaccard (dd04 verifies unweighted; a pair
    held together only by ubiquitous shingles scores lower here, a pair
    sharing rare content scores higher).

    Weights are integer per-mille inverse document frequencies
    ((N·1000) div df — monotone in rarity, no float log crosses the
    engine boundary), weighted J = Σw(A∩B) / Σw(A∪B) with the union
    sum assembled as total_a + total_b − inter (no union
    materialization), and the θ=0.5 decision is a 10·inter ≥ 5·union
    cross-multiplication — all exact BIGINTs.

    Candidates come from FOUR single-row minhash bands (per band k the
    doc keys on MIN md5(k|shingle)): two docs share band k's key with
    probability J, so a J ≥ 0.5 pair is caught with probability
    ≈ 1−0.5⁴ ≈ 94%, and the keys are min-hashes — unlike an
    IDF-argmax block key, which provably ANTI-selects shared shingles
    (a unique-to-one-doc shingle always has the higher IDF; the first
    draft keyed on it and found nothing — recorded so the next reader
    doesn't rediscover it). The oracle replays the band rule exactly,
    so the recall contract is auditable; dd04's full banded-LSH is the
    production-recall sibling, this is its 1-row-band economy form
    with the weighted verify.

    Scale shape: one shingle-keyed df aggregate, one doc-keyed min
    aggregate per band (map-side), band-keyed candidate join, then an
    intersection join that touches only candidate docs' shingle lists.
    """
    documents = load_table(spark, sf_dir, "documents")
    # The exploded shingle relation feeds FIVE consumers (df counts,
    # doc totals, band minima, and both intersection legs) — without a
    # cache Spark re-explodes the corpus per consumer (the dd15
    # lesson). A lazy pin (dd17's pattern, NOT eager localCheckpoint):
    # materialization waits for the first action, so plan-only
    # consumers stay free, and lineage survives executor loss — this
    # is a DAG, not a fixpoint loop needing truncation.
    pin = generation("dd16_weighted_jaccard_pairs")
    stoks = pin(
        documents.select("doc_id", F.explode(_shingle_set(F.col("text"))).alias("sg"))
    )
    n = stoks.agg(F.countDistinct("doc_id").alias("n_docs"))
    wt = (
        stoks.groupBy("sg")
        .agg(F.countDistinct("doc_id").alias("df"))
        .crossJoin(F.broadcast(n))
        .select("sg", F.expr("(n_docs * 1000) div df").alias("w"))
    )
    # Feeds doc totals + both intersection legs; pinned for the same
    # reasons as stoks above.
    wtoks = pin(stoks.join(wt, "sg").select("doc_id", "sg", "w"))
    doc_sum = wtoks.groupBy("doc_id").agg(F.sum("w").alias("total_w"))
    # All four band minima in ONE doc-keyed aggregate (map-side
    # partials) instead of exploding the shingle relation ×4: A/B-
    # measured equivalent at sf0.1 (the shingle-keyed df/intersection
    # work dominates), kept for the 4×-smaller shuffle payload — the
    # gap widens with band count and at executor-memory pressure; the
    # (docs × bands) self-join input is a zero-shuffle EXPAND of the
    # agg output.
    mh_wide = stoks.groupBy("doc_id").agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{k}|"), F.col("sg")))).alias(f"sig{k}")
            for k in range(DD16_BANDS)
        ]
    )
    mh = _explode_bands(
        mh_wide,
        ["doc_id"],
        [
            F.struct(F.lit(k).alias("k"), F.col(f"sig{k}").alias("sig"))
            for k in range(DD16_BANDS)
        ],
    )
    cand = bucket_pairs(mh, mh, ["k", "sig"])
    ta = wtoks.select(
        F.col("doc_id").alias("doc_a"), F.col("sg").alias("sg"), F.col("w").alias("w")
    )
    tb = wtoks.select(F.col("doc_id").alias("doc_b"), F.col("sg").alias("sg"))
    inter = (
        cand.join(ta, "doc_a")
        .join(tb, ["doc_b", "sg"])
        .groupBy("doc_a", "doc_b")
        .agg(F.sum("w").alias("inter_w"))
    )
    sa = doc_sum.select(F.col("doc_id").alias("doc_a"), F.col("total_w").alias("tw_a"))
    sb = doc_sum.select(F.col("doc_id").alias("doc_b"), F.col("total_w").alias("tw_b"))
    union_w = F.col("tw_a") + F.col("tw_b") - F.col("inter_w")
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(10 * F.col("inter_w") >= DD16_THETA_X10 * union_w)
        .select(
            "doc_a",
            "doc_b",
            "inter_w",
            union_w.alias("union_w"),
            F.expr("(1000 * inter_w) div (tw_a + tw_b - inter_w)").alias("jw_milli"),
        )
        .orderBy(F.desc("jw_milli"), F.asc("doc_a"), F.asc("doc_b"))
    )


# --- dd17: LSH band-tuning eval -------------------------------------------------------

DD17_NUM_HASHES = 12
DD17_BAND_SIZES = (2, 3, 6)  # rows-per-band settings swept by the eval
DD17_THRESHOLD = 0.5
# the same threshold as an exact rational for the prefix-filter
# true-pair leg (float prefix math would drop borderline pairs)
DD17_T_NUM, DD17_T_DEN = 1, 2


def _dd17_md5_slot_sql() -> str:
    return (
        "MIN(CAST(CONCAT('0x', SUBSTRING(MD5(CONCAT(g.i, '|', s.w)), 1, 15)) "
        "AS BIGINT))"
    )


@query(
    "dd17_lsh_tuning_eval",
    oracle="WITH "
    + _SHINGLE_CTES
    + f"""
    , slots AS MATERIALIZED (
        SELECT s.doc_id, g.i AS slot, {_dd17_md5_slot_sql()} AS mh
        FROM (SELECT doc_id, UNNEST(ws) AS w FROM sh) s,
             GENERATE_SERIES(0, {DD17_NUM_HASHES - 1}) AS g(i)
        GROUP BY s.doc_id, g.i
    ), bands AS MATERIALIZED (
        SELECT rr.r, s.doc_id, s.slot // rr.r AS band_id,
               MD5(ARRAY_TO_STRING(LIST(s.mh ORDER BY s.slot), ',')) AS bh
        FROM slots s
        CROSS JOIN (SELECT UNNEST({list(DD17_BAND_SIZES)}) AS r) rr
        GROUP BY rr.r, s.doc_id, s.slot // rr.r
    ), cand AS MATERIALIZED (
        SELECT DISTINCT a.r, a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.r = b.r AND a.band_id = b.band_id AND a.bh = b.bh
         AND a.doc_id < b.doc_id
    ), truep AS MATERIALIZED ({jaccard_pairs_sql("sh", DD17_THRESHOLD, score=False)}), nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_true FROM truep)
    SELECT c.r AS band_size,
           CAST({DD17_NUM_HASHES} // c.r AS BIGINT) AS n_bands,
           CAST(COUNT(*) AS BIGINT) AS n_candidates,
           nt.n_true,
           CAST(COUNT(t.doc_a) AS BIGINT) AS n_caught,
           CAST((1000 * COUNT(t.doc_a)) // nt.n_true AS BIGINT) AS recall_milli,
           CAST((1000 * COUNT(t.doc_a)) // COUNT(*) AS BIGINT) AS precision_milli
    FROM cand c
    LEFT JOIN truep t ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
    CROSS JOIN nt
    GROUP BY c.r, nt.n_true
    ORDER BY band_size
    """,
)
def dd17_lsh_tuning_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH band-tuning sweep: candidate volume, recall and precision of
    MinHash banding at three rows-per-band settings — the measured
    S-curve (P[collide] = 1−(1−s^r)^b, Leskovec/Rajaraman/Ullman
    ch. 3) that decides the index's (b, r) in production. sim15 is
    this eval for the IVF index, er05 for ER blocking; dd17 completes
    the triad for the dedup index itself: small r = recall-heavy and
    candidate-flooded, big r = cheap and leaky, and the right knob is
    a measurement, not a guess.

    The signature here is an md5-derived minhash (slot i = min over
    shingles of a 60-bit md5 integer) — deliberately NOT the engine's
    xxhash64 production path, because md5 is the one hash both engines
    evaluate bit-identically, which makes candidate COUNTS (not just
    verified survivors) hash-exact against the oracle. The true-pair
    leg is EXACT: jaccard_join_prefix (AllPairs prefix filtering,
    provably identical to the brute-force all-pairs scan — dd12 pins
    the bit-parity vs the same oracle shape), so recall_milli measures
    the banding against ground truth, not against another LSH run.
    Everything downstream of the per-doc signature is bounded: bands
    are |docs|·(Σ 12/r) rows, the bucket join collides on band keys
    (never all-pairs), and the rollup is 3 rows.
    """
    documents = spread_scan(load_table(spark, sf_dir, "documents"))
    # The shingled relation feeds the 12 minhash slot builds AND the
    # exact true-pair leg's five internal consumers (df counts, prefix,
    # both verify fetches — the dd16 stoks lesson). A lazy pin (NOT
    # eager localCheckpoint): materialization happens on the first
    # ACTION, so plan-only consumers (plan audits, .explain()) stay
    # free, and lineage is preserved — an executor loss recomputes the
    # lost blocks instead of failing the job, which localCheckpoint
    # cannot do.
    pin = generation("dd17_lsh_tuning_eval")
    docs = pin(documents.select("doc_id", _shingle_set(F.col("text")).alias("ws")))

    def _slot(idx: int):
        # NB: must be a ONE-argument lambda — a second parameter (even
        # defaulted) makes pyspark bind transform's (element, index)
        # form and the array index silently replaces the slot constant
        pref = f"{idx}|"
        return F.array_min(
            F.transform(
                F.col("ws"),
                lambda w: F.conv(
                    F.substring(F.md5(F.concat(F.lit(pref), w)), 1, 15), 16, 10
                ).cast("long"),
            )
        ).alias(f"mh{idx}")

    slot_cols = [_slot(i) for i in range(DD17_NUM_HASHES)]
    per_doc = docs.select("doc_id", *slot_cols)
    # All 13 (r, band_id) keys for all three band-size settings in ONE
    # explode over the 12-slot signature row — one pass over per_doc
    # instead of a 13-way union of projections (each of which would
    # re-scan the signature relation on both sides of the self-join).
    band_structs = [
        F.struct(
            F.lit(r).alias("r"),
            F.lit(b).alias("band_id"),
            F.md5(
                F.concat_ws(
                    ",", *[F.col(f"mh{b * r + j}").cast("string") for j in range(r)]
                )
            ).alias("bh"),
        )
        for r in DD17_BAND_SIZES
        for b in range(DD17_NUM_HASHES // r)
    ]
    # Pinned: the bucket self-join scans this relation twice; the pin
    # avoids recomputing 12 minhash mins + 13 md5s per doc on the
    # second side. Same fault-tolerance rationale as `docs`.
    bands = pin(_explode_bands(per_doc, ["doc_id"], band_structs))
    cand = bucket_pairs(
        bands,
        bands,
        ["r", "band_id", "bh"],
        F.col("a.r").alias("r"),
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
    )
    # Consumed twice (the recall left-join and the n_true scalar);
    # pinning avoids re-running the whole prefix-filter join for the
    # 1-row count.
    truep = pin(
        jaccard_join_prefix(docs, "doc_id", "ws", t_num=DD17_T_NUM, t_den=DD17_T_DEN)
        .select("doc_a", "doc_b", F.lit(1).alias("is_true"))
    )
    nt = truep.agg(F.count("*").alias("n_true"))
    return (
        cand.join(truep, ["doc_a", "doc_b"], "left")
        .crossJoin(F.broadcast(nt))
        .groupBy(F.col("r").alias("band_size"), "n_true")
        .agg(
            F.count("*").alias("n_candidates"),
            F.count("is_true").alias("n_caught"),
        )
        .select(
            "band_size",
            F.expr(f"{DD17_NUM_HASHES} div band_size").alias("n_bands"),
            "n_candidates",
            "n_true",
            "n_caught",
            F.expr("(1000 * n_caught) div n_true").alias("recall_milli"),
            F.expr("(1000 * n_caught) div n_candidates").alias("precision_milli"),
        )
        .orderBy("band_size")
    )
