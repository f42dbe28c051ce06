"""Text-analysis operators (SURVEY.md §2.4 A18–A19, §2.11 text analysis).

Word extraction in the reference is a driver-side ``re.findall`` +
``Counter`` (cbddl/src/analytics/demographics_analyzer.py:161-182).
Here every text operator is expressed with native string/array/
higher-order functions — ``split`` / ``explode`` / ``filter`` /
``aggregate`` — so the whole path stays inside whole-stage codegen and
scales by partitioning documents, with the word-count shuffle keyed on
the (bounded-vocabulary) word.

The family's shared steps live in ``functions/text.py``, each with its
DuckDB twin in ``shared_oracles``: the one tokenizer ``words``
(lowercase, split on one space) and the case-preserving ``ws_tokens``,
the word set, word n-grams, the exploded ``(keys, word)`` relation
``word_rows``, per-document repetition statistics and hashed-word
features.
Here tx06/tx11 share one postings build and tx03/tx19 one marker rule.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table, spread_scan
from ..functions.text import ngrams, shifted, word_rows, word_set, words, ws_tokens
from ..registry import query
from .shared_oracles import WORD_SET_SQL, ngrams_sql, unnest_words_sql, word_rows_sql
from .shared_oracles import WS_TOKENS_SQL, words_sql

# Tiny stopword list used by the quality scorer; kept identical in the
# DuckDB oracle strings below.
STOPWORDS = ("the", "a", "an", "of", "and", "to", "in", "is")


@query(
    "a18_word_frequency",
    oracle=f"""
    SELECT word, COUNT(*) AS count
    FROM {word_rows_sql(min_len=3)}
    GROUP BY word
    ORDER BY count DESC, word ASC
    LIMIT 50
    """,
)
def a18_word_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus word frequency: tokenize → explode → count → top-50.

    A18/U5: ``re.findall(r'\\b[a-zA-Z]{3,}\\b')`` + Counter.most_common(50)
    (cbddl/src/analytics/demographics_analyzer.py:173-182). explode is
    the UDTF-equivalent; the count shuffles on the word key whose
    cardinality is the vocabulary, not the corpus.
    """
    documents = load_table(spark, sf_dir, "documents")
    return (
        word_rows(documents, min_len=3)
        .groupBy("word")
        .agg(F.count("*").alias("count"))
        .orderBy(F.desc("count"), F.asc("word"))
        .limit(50)
    )


@query(
    "a19_suffix_frequency",
    oracle="""
    SELECT STRING_SPLIT(p_name, ' ')[-1] AS suffix, COUNT(*) AS count
    FROM part
    GROUP BY suffix
    ORDER BY count DESC, suffix ASC
    """,
)
def a19_suffix_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-token (suffix) frequency table.

    A19: business-name suffix Counter.most_common(20)
    (cbddl/src/analytics/demographics_analyzer.py:161-171).
    """
    part = load_table(spark, sf_dir, "part")
    return (
        part.select(F.element_at(F.split(F.col("p_name"), " "), -1).alias("suffix"))
        .groupBy("suffix")
        .agg(F.count("*").alias("count"))
        .orderBy(F.desc("count"), F.asc("suffix"))
    )


@query(
    "tx01_quality_score",
    oracle=f"""
    SELECT doc_id,
           n_words,
           ROUND(stop_ratio, 6) AS stop_ratio,
           ROUND(uniq_ratio, 6) AS uniq_ratio,
           (n_words >= 20 AND stop_ratio < 0.5 AND uniq_ratio > 0.2) AS is_quality
    FROM (
        SELECT doc_id,
               LEN(words) AS n_words,
               LEN(LIST_FILTER(words, w -> w IN {STOPWORDS})) * 1.0 / LEN(words) AS stop_ratio,
               LEN(LIST_DISTINCT(words)) * 1.0 / LEN(words) AS uniq_ratio
        FROM (SELECT doc_id, {words_sql()} AS words FROM documents)
    )
    """,
)
def tx01_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring: token count, stopword ratio, lexical
    diversity, and a composite keep/drop flag.

    §2.11 text-analysis mandate; generalizes the reference's
    length-and-keyword heuristics
    (cbddl/src/analytics/demographics_analyzer.py:103-137). Pure
    higher-order array functions — zero Python in the row path.
    """
    documents = load_table(spark, sf_dir, "documents")
    w = words()
    tokens = documents.select(
        "doc_id",
        F.size(w).alias("n_words"),
        (F.size(F.filter(w, lambda x: x.isin(*STOPWORDS))) / F.size(w)).alias("stop_ratio_raw"),
        (F.size(F.array_distinct(w)) / F.size(w)).alias("uniq_ratio_raw"),
    )
    return tokens.select(
        "doc_id",
        "n_words",
        F.round("stop_ratio_raw", 6).alias("stop_ratio"),
        F.round("uniq_ratio_raw", 6).alias("uniq_ratio"),
        (
            (F.col("n_words") >= 20)
            & (F.col("stop_ratio_raw") < 0.5)
            & (F.col("uniq_ratio_raw") > 0.2)
        ).alias("is_quality"),
    )


@query(
    "tx02_token_count",
    oracle=rf"""
    SELECT doc_id,
           LEN({WS_TOKENS_SQL}) AS ws_tokens,
           LEN(REGEXP_EXTRACT_ALL(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS bpe_ish_tokens
    FROM documents
    """,
)
def tx02_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace and a BPE-ish regex
    (word / number / single-symbol pieces) — the pre-tokenization pass
    of a training-data pipeline (§2.11)."""
    documents = load_table(spark, sf_dir, "documents")
    return documents.select(
        "doc_id",
        F.size(ws_tokens()).alias("ws_tokens"),
        F.size(
            F.regexp_extract_all(F.col("text"), F.lit(r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"), 0)
        ).alias("bpe_ish_tokens"),
    )


# tx03's English-marker language rule, which tx19 audits.
EN_MARKERS = ("the", "a", "of", "and", "is")
_PREDICTED_LANG_SQL = f"""CASE WHEN LEN(LIST_FILTER({words_sql()}, w -> w IN {EN_MARKERS!r})) >= 2
           THEN 'en' ELSE 'unknown' END"""


def _predicted_lang() -> Column:
    """'en' when ``text`` holds at least two English marker words, else
    'unknown' (``_PREDICTED_LANG_SQL``)."""
    en_markers = F.size(F.filter(words(), lambda w: w.isin(*EN_MARKERS)))
    return F.when(en_markers >= 2, F.lit("en")).otherwise(F.lit("unknown"))


@query(
    "tx03_language_id",
    oracle=f"""
    SELECT doc_id, lang AS labeled_lang,
           {_PREDICTED_LANG_SQL} AS predicted_lang
    FROM documents
    """,
)
def tx03_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: stopword-marker voting (§2.11).

    A real n-gram model would broadcast per-language n-gram tables and
    score with the same higher-order-function shape; the marker
    heuristic keeps the plan identical and the output deterministic.
    """
    documents = load_table(spark, sf_dir, "documents")
    return documents.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        _predicted_lang().alias("predicted_lang"),
    )


@query(
    "tx04_fingerprint",
    oracle=f"""
    SELECT doc_id,
           MD5(ARRAY_TO_STRING({WORD_SET_SQL}, ' '))
               AS fingerprint
    FROM documents
    """,
)
def tx04_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical document fingerprint: sorted distinct token set → md5.

    §2.11 fingerprinting; the normalized-key analog of the reference's
    dedup keys (cbddl/src/etl/pipeline.py:344). Word-order-insensitive,
    so reordered near-copies collide — the cheap first pass before
    MinHash (see operators/dedup.py).
    """
    documents = load_table(spark, sf_dir, "documents")
    canonical = F.array_join(word_set(), " ")
    return documents.select("doc_id", F.md5(canonical).alias("fingerprint"))


EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\d{3}[-.]\d{3}[-.]\d{4}"


@query(
    "tx05_pii_redaction",
    oracle=f"""
    SELECT doc_id,
           LEN(REGEXP_EXTRACT_ALL(text, '{EMAIL_RE}')) AS n_emails,
           LEN(REGEXP_EXTRACT_ALL(text, '{PHONE_RE}')) AS n_phones,
           LEN(REGEXP_REPLACE(REGEXP_REPLACE(text, '{EMAIL_RE}', '<EMAIL>', 'g'),
                              '{PHONE_RE}', '<PHONE>', 'g')) AS redacted_len
    FROM documents
    """,
)
def tx05_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub pass: count and replace email/phone patterns.

    The compliance step every training-data pipeline runs before
    tokenization. Pure regexp projection — scan-speed, no shuffle; the
    oracle pins regex-dialect parity between engines (this corpus is
    synthetic so matches are rare, which is exactly what the parity
    check needs to agree on). Real deployments extend the pattern set
    (SSNs, credit cards, addresses) in the same plan shape.
    """
    documents = load_table(spark, sf_dir, "documents")
    redacted = F.regexp_replace(
        F.regexp_replace(F.col("text"), EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
    )
    return documents.select(
        "doc_id",
        F.size(F.expr(f"regexp_extract_all(text, '{EMAIL_RE}', 0)")).alias("n_emails"),
        F.size(F.expr(f"regexp_extract_all(text, '{PHONE_RE}', 0)")).alias("n_phones"),
        F.length(redacted).alias("redacted_len"),
    )


# tx06's and tx11's term relation: words of 3+ characters per document.
_TERMS_CTE = f"""toks AS (
        SELECT doc_id, word AS term
        FROM {word_rows_sql("doc_id", min_len=3)}
    )"""


def _postings(documents: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """``(toks, tf, dfreq)``: the ``(doc_id, term)`` rows of
    ``_TERMS_CTE``, their per-document counts ``tf`` and the term
    document frequencies ``df``, derived from ``tf`` so the corpus is
    exploded once."""
    toks = word_rows(documents, "doc_id", min_len=3, name="term")
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    return toks, tf, dfreq


@query(
    "tx06_tfidf_topk",
    oracle=f"""
    WITH {_TERMS_CTE}, tf AS (
        SELECT doc_id, term, COUNT(*) AS tf
        FROM toks GROUP BY doc_id, term
    ), dfreq AS (
        SELECT term, COUNT(*) AS df FROM tf GROUP BY term
    ), n AS (
        SELECT COUNT(*) AS n_docs FROM documents
    )
    SELECT tf.doc_id, tf.term,
           ROUND(tf.tf * LN(CAST(n.n_docs AS DOUBLE) / dfreq.df), 6) AS tfidf
    FROM tf JOIN dfreq ON tf.term = dfreq.term, n
    ORDER BY tfidf DESC, tf.term ASC, tf.doc_id ASC
    LIMIT 20
    """,
)
def tx06_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF term weighting over the corpus, global top-20 terms.

    The canonical curation-scoring primitive the reference's word
    counter (A18) stops short of. Three-stage dataflow with NO per-row
    Python: explode → per-(doc,term) counts (the corpus-sized shuffle,
    map-side combined), term document-frequency derived FROM the tf
    relation (vocabulary-sized, no second corpus scan), and the
    1-row doc count broadcast. The tf⋈idf join shuffles on the term
    key — vocabulary cardinality, not corpus — and the final top-20 is
    TakeOrderedAndProject with full tiebreaks. ln(N/df) > 0 here since
    every term's df < N; a smoothed variant only shifts the constant.
    """
    documents = load_table(spark, sf_dir, "documents")
    _, tf, dfreq = _postings(documents)
    n_docs = documents.agg(F.count("*").alias("n_docs"))
    return (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 6
            ).alias("tfidf"),
        )
        .orderBy(F.desc("tfidf"), F.asc("term"), F.asc("doc_id"))
        .limit(20)
    )


# BM25 constants — identical literals in the oracle string below.
BM25_K1 = 1.2
BM25_B = 0.75
BM25_QUERY = ("vector", "stream", "merge")


@query(
    "tx11_bm25_search",
    oracle=f"""
    WITH {_TERMS_CTE}, tf AS (
        SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM toks GROUP BY doc_id, term
    ), dlen AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dlen FROM toks GROUP BY doc_id
    ), stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(dlen) AS BIGINT) AS total_len
        FROM dlen
    ), dfreq AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
    ), w AS (
        SELECT tf.doc_id, tf.term,
               LN(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
               * (tf.tf * (1.2 + 1.0))
               / (tf.tf + 1.2 * (1.0 - 0.75
                                 + 0.75 * l.dlen
                                   / (CAST(s.total_len AS DOUBLE) / s.n_docs)))
               AS w
        FROM tf
        JOIN dfreq d ON tf.term = d.term
        JOIN dlen l ON tf.doc_id = l.doc_id
        CROSS JOIN stats s
        WHERE tf.term IN ('vector', 'stream', 'merge')
    ), scored AS (
        SELECT doc_id,
               COALESCE(MAX(CASE WHEN term = 'vector' THEN w END), 0.0)
               + COALESCE(MAX(CASE WHEN term = 'stream' THEN w END), 0.0)
               + COALESCE(MAX(CASE WHEN term = 'merge' THEN w END), 0.0) AS raw
        FROM w GROUP BY doc_id
    )
    SELECT doc_id, ROUND(raw, 6) AS bm25
    FROM scored
    ORDER BY bm25 DESC, doc_id ASC
    LIMIT 10
    """,
)
def tx11_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 for a fixed 3-term query — full-text retrieval.

    TF-IDF (tx06) weighs terms; BM25 ranks DOCUMENTS against a query,
    adding tf saturation (k1) and doc-length normalization (b) — the
    retrieval scorer behind Lucene/Elasticsearch and the lexical half
    of RAG hybrid search (sim08's dense counterpart). Reference seed:
    the reference's search surface is a driver-side substring match
    (cbddl/src/api/main.py business-name lookup); this is the
    corpus-scale generalization.

    Scale/determinism shape:
    - postings (tf) and doc lengths derive from ONE tokenize+explode
      pass; the corpus-sized shuffle is the (doc,term) groupBy,
      map-side combined. df comes from the vocabulary-sized tf
      relation, never a second corpus scan.
    - the query-term filter lands BEFORE the scoring joins, so the
      per-query work is postings-of-3-terms, not the corpus — at scale
      this is the inverted-index probe, with the 1-row corpus stats
      broadcast.
    - floats appear only in per-row expressions; per-doc scores sum
      the (≤3) term weights in FIXED written order via conditional
      aggregation — no float SUM whose partition order could differ
      between engines (same discipline as er03's integer money math).
    """
    documents = load_table(spark, sf_dir, "documents")
    toks, tf, dfreq = _postings(documents)
    dlen = toks.groupBy("doc_id").agg(F.count("*").alias("dlen"))
    stats = dlen.agg(
        F.count("*").alias("n_docs"), F.sum("dlen").alias("total_len")
    )
    q = list(BM25_QUERY)
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    avgdl = F.col("total_len").cast("double") / F.col("n_docs")
    w = (
        tf.filter(F.col("term").isin(q))
        .join(dfreq, "term")
        .join(dlen, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            "term",
            (
                idf
                * (F.col("tf") * (BM25_K1 + 1.0))
                / (
                    F.col("tf")
                    + BM25_K1 * (1.0 - BM25_B + BM25_B * F.col("dlen") / avgdl)
                )
            ).alias("w"),
        )
    )
    per_term = [
        F.coalesce(F.max(F.when(F.col("term") == t, F.col("w"))), F.lit(0.0))
        for t in q
    ]
    raw = per_term[0] + per_term[1] + per_term[2]
    return (
        w.groupBy("doc_id")
        .agg(F.round(raw, 6).alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(10)
    )


# --- tx14: BPE tokenizer training (iterative pair merging) ------------------

BPE_ROUNDS = 5


def _bpe_chain_sql() -> str:
    """Shared unrolled DuckDB chain replaying the BPE merge recurrence.

    One CTE trio per round: pairs (weighted adjacent-pair counts from
    the wrapped strings), best (argmax with the count DESC, left, right
    tie order), next vocab (single-pass REPLACE of the wrapped pair).
    MATERIALIZED per gr06's lesson — the t/b chain is referenced more
    than once per round and DuckDB's default inlining re-expands it.
    ``word`` rides through every t so the apply oracle (tx15) can map
    corpus words to their final tokenization.
    """
    parts = [
        f"""
    WITH words AS MATERIALIZED (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS n
        FROM ({unnest_words_sql()})
        WHERE REGEXP_MATCHES(word, '^[a-z]+$')
        GROUP BY word
    ), t0 AS MATERIALIZED (
        SELECT word, REGEXP_REPLACE(word, '(.)', '<\\1>', 'g') AS s, n
        FROM words
    )"""
    ]
    for r in range(1, BPE_ROUNDS + 1):
        parts.append(f"""
    , p{r} AS (
        SELECT pr[1] AS l, pr[2] AS r, CAST(SUM(n) AS BIGINT) AS c
        FROM (SELECT UNNEST([[toks[i], toks[i + 1]]
                             FOR i IN RANGE(1, LEN(toks))]) AS pr, n
              FROM (SELECT STRING_SPLIT(SUBSTRING(s, 2, LEN(s) - 2), '><')
                        AS toks, n
                    FROM t{r - 1}))
        GROUP BY pr[1], pr[2]
    ), b{r} AS MATERIALIZED (
        SELECT l, r, c FROM p{r} ORDER BY c DESC, l, r LIMIT 1
    ), t{r} AS MATERIALIZED (
        SELECT t.word, REPLACE(t.s, '<' || b.l || '><' || b.r || '>',
                               '<' || b.l || b.r || '>') AS s, n
        FROM t{r - 1} t, b{r} b
    )""")
    return "".join(parts)


def _bpe_oracle() -> str:
    steps = " UNION ALL ".join(
        f"SELECT {r} AS step, l, r, c FROM b{r}" for r in range(1, BPE_ROUNDS + 1)
    )
    return (
        _bpe_chain_sql()
        + f"""
    SELECT step, l AS left, r AS right, l || r AS merged, c AS pair_count
    FROM ({steps}) ORDER BY step"""
    )


@query("tx14_bpe_merges", oracle=_bpe_oracle())
def tx14_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer TRAINING: the first BPE_ROUNDS merge rules learned
    from the corpus (Sennrich et al.'s byte-pair encoding).

    The tokenizer-side gap in the text family: tx02 COUNTS tokens under
    a fixed BPE-ish regex; this learns the merge table itself — the
    iterative most-frequent-adjacent-pair recurrence every subword
    tokenizer starts from. Classic BPE trains on the word-FREQUENCY
    table, not the corpus: one corpus scan builds (word, count), which
    is vocabulary-sized, and all merge rounds run there — that is why
    the vocab is localCheckpointed eagerly (the bounded-coordinator
    pattern sim11 uses for its candidate pool) and each round's
    transformed vocab re-checkpoints: round r is one weighted
    pair-count aggregate (map-side partials over ≤vocab rows), a 1-row
    argmax broadcast, and a projection.

    Determinism and cross-engine exactness: counts are integer sums;
    the argmax tie order is (count DESC, left, right); and the merge
    application wraps every token in angle brackets (``the`` →
    ``<t><h><e>``) so a single left-to-right non-overlapping
    ``replace('<l><r>', '<lr>')`` — identical semantics in Spark and
    DuckDB — implements EXACT greedy BPE: adjacent occurrences share no
    characters once wrapped (``<a><a><a><a>`` merges to
    ``<aa><aa>``, where space-joined tokens would stall at the shared
    separator and under-merge). Tokens are ``^[a-z]+$`` words, so the
    wrap characters can never collide with token content.

    Parity: beyond-reference (§2.11 text-analysis mandate); the
    training-side sibling of tx02's token counting
    (cbddl/src/analytics/demographics_analyzer.py:173-182 is the
    word-frequency seed).
    """
    documents = load_table(spark, sf_dir, "documents")
    _, bests = _bpe_train(documents)
    out = bests[0]
    for b in bests[1:]:
        out = out.unionByName(b)
    return out.select(
        "step",
        F.col("l").alias("left"),
        F.col("r").alias("right"),
        F.concat(F.col("l"), F.col("r")).alias("merged"),
        F.col("c").alias("pair_count"),
    ).orderBy("step")


def _bpe_train(
    documents: DataFrame, word_re: str = "^[a-z]+$"
) -> tuple[DataFrame, list[DataFrame]]:
    """The BPE merge recurrence behind tx14/tx15.

    Returns ``(vocab_final, bests)``: the post-merge word→tokenization
    mapping (word, s, n) and one 1-row (step, l, r, c) relation per
    round. See tx14's docstring for semantics and determinism notes.
    ``word_re`` must admit only characters distinct from the ``<``/``>``
    wrap markers (the registry pins ``^[a-z]+$``; the scale probe
    widens it to cover its shard-tagged fixture tokens).
    """
    counts = (
        word_rows(documents)
        .filter(F.col("word").rlike(word_re))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    vocab = counts.select(
        "word", F.regexp_replace(F.col("word"), "(.)", "<$1>").alias("s"), "n"
    ).localCheckpoint(eager=True)

    bests = []
    for step in range(1, BPE_ROUNDS + 1):
        toks = F.split(F.expr("substring(s, 2, length(s) - 2)"), "><")
        sz = F.size(toks)
        zipped = F.arrays_zip(F.slice(toks, 1, sz - 1), F.slice(toks, 2, sz - 1))
        pairs = vocab.select(
            F.explode(zipped).alias("pr"), "n"
        ).select(
            F.col("pr")["0"].alias("l"), F.col("pr")["1"].alias("r"), "n"
        )
        best = (
            pairs.groupBy("l", "r")
            .agg(F.sum("n").alias("c"))
            .orderBy(F.desc("c"), F.asc("l"), F.asc("r"))
            .limit(1)
            .localCheckpoint(eager=True)
        )
        bests.append(best.select(F.lit(step).alias("step"), "l", "r", "c"))
        vocab = (
            vocab.crossJoin(F.broadcast(best))
            .select(
                "word",
                F.expr(
                    "replace(s, '<' || l || '><' || r || '>',"
                    " '<' || l || r || '>')"
                ).alias("s"),
                "n",
            )
            .localCheckpoint(eager=True)
        )
    return vocab, bests


@query(
    "tx15_bpe_tokenize",
    oracle=_bpe_chain_sql()
    + f"""
    , dw AS (
        SELECT doc_id, word
        FROM ({unnest_words_sql("doc_id")})
        WHERE REGEXP_MATCHES(word, '^[a-z]+$')
    ), m AS (
        SELECT word,
               CAST(LEN(STRING_SPLIT(SUBSTRING(s, 2, LEN(s) - 2), '><'))
                    AS BIGINT) AS n_toks,
               CAST(LEN(word) AS BIGINT) AS n_chars
        FROM t{BPE_ROUNDS}
    )
    SELECT dw.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(m.n_chars) AS BIGINT) AS n_chars,
           CAST(SUM(m.n_toks) AS BIGINT) AS n_bpe_tokens
    FROM dw JOIN m USING (word)
    GROUP BY dw.doc_id
    ORDER BY dw.doc_id
    """,
)
def tx15_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer APPLICATION: per-document subword token counts
    under the merge table tx14 learned.

    Completes the tokenizer loop: train on the word-frequency table
    (tx14), then tokenize the corpus by JOINING words to the learned
    word→tokenization mapping — the production shape for applying any
    trained tokenizer in Spark: the mapping is vocabulary-sized (a real
    tokenizer's vocab, always broadcastable), so application is one
    corpus explode + one broadcast join + one doc-keyed partial-agg
    count — never a per-row Python tokenizer in the hot path. The
    (n_chars, n_bpe_tokens) pair per document gives the compression
    ratio the budgeting ops (tp09) consume; counts are exact integers
    end to end, so the whole query hash-compares against the unrolled
    merge-chain oracle.

    Parity: beyond-reference (§2.11 text-analysis mandate); tx02's
    whitespace/regex token counts are the untrained baseline this
    replaces.
    """
    return bpe_tokenize_counts(spark, sf_dir)


def bpe_tokenize_counts(
    spark: SparkSession, sf_dir: str, word_re: str = "^[a-z]+$"
) -> DataFrame:
    """Parameterized engine behind tx15 (same plan, tunable charset)."""
    documents = load_table(spark, sf_dir, "documents")
    vocab, _ = _bpe_train(documents, word_re=word_re)
    mapping = vocab.select(
        "word",
        F.size(F.split(F.expr("substring(s, 2, length(s) - 2)"), "><"))
        .cast("long")
        .alias("n_toks"),
        F.length("word").cast("long").alias("n_chars"),
    )
    dw = word_rows(documents, "doc_id").filter(F.col("word").rlike(word_re))
    return (
        dw.join(F.broadcast(mapping), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_chars").alias("n_chars"),
            F.sum("n_toks").alias("n_bpe_tokens"),
        )
        .orderBy("doc_id")
    )


# --- tx16: collocation extraction (PMI-ranked bigrams) -----------------------

COLLOC_MIN_COUNT = 5  # rare-pair floor: PMI is unstable below this
COLLOC_TOP = 30


@query(
    "tx16_collocations",
    oracle=f"""
    WITH w AS (SELECT {words_sql()} AS l FROM documents),
    uni AS (SELECT UNNEST(l) AS tok FROM w),
    ucnt AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM uni GROUP BY tok),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM uni),
    bg AS (
        SELECT UNNEST({ngrams_sql("l", 2)})
            AS bigram
        FROM w
    ),
    bcnt AS (
        SELECT STRING_SPLIT(bigram, ' ')[1] AS lw,
               STRING_SPLIT(bigram, ' ')[2] AS rw,
               CAST(COUNT(*) AS BIGINT) AS c_xy
        FROM bg
        GROUP BY bigram
        HAVING COUNT(*) >= {COLLOC_MIN_COUNT}
    )
    SELECT b.lw || ' ' || b.rw AS bigram, b.c_xy,
           (b.c_xy * 1000000) // ul.c * (SELECT n FROM tot) // ur.c
               AS lift_micro
    FROM bcnt b
    JOIN ucnt ul ON b.lw = ul.tok
    JOIN ucnt ur ON b.rw = ur.tok
    ORDER BY lift_micro DESC, bigram ASC
    LIMIT {COLLOC_TOP}
    """,
)
def tx16_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-30 collocations: bigrams ranked by integer-exact PMI lift.

    Church & Hanks' association-ratio recipe with the log dropped: PMI
    orders pairs by c_xy·N / (c_x·c_y), and log is monotone, so ranking
    by the RATIO ranks by PMI — and the ratio is computable in exact
    int64 micro-units (log itself is a libm call, not differentially
    testable). The division order ((c_xy·10^6) div c_x · N) div c_y
    keeps every intermediate below 2^63 because c_xy ≤ c_x (tp16's
    bound argument). The COLLOC_MIN_COUNT floor is the standard PMI
    stabilizer: a pair seen once between two hapaxes maxes the ratio
    with zero evidence.

    Scale shape: unigram and bigram counts shuffle on VOCABULARY
    cardinality, not corpus size (map-side partial aggregation); the
    token-keyed joins attach unigram counts to the (already ≥ floor)
    bigram relation, and the corpus total is one broadcast row. The
    final global top-30 runs on the filtered vocab-sized relation.

    Parity: beyond-reference (§2.11 text-analysis extension; seed
    cbddl/src/analytics/demographics_analyzer.py:173-182 word
    extraction).
    """
    documents = spread_scan(load_table(spark, sf_dir, "documents"))
    uni = word_rows(documents, name="tok")
    ucnt = uni.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    tot = uni.agg(F.count(F.lit(1)).alias("n"))
    bcnt = (
        documents.select(F.explode(shifted(words(), 2)).alias("s"))
        .select(F.col("s")["0"].alias("lw"), F.col("s")["1"].alias("rw"))
        .groupBy("lw", "rw")
        .agg(F.count(F.lit(1)).alias("c_xy"))
        .filter(F.col("c_xy") >= COLLOC_MIN_COUNT)
    )
    ul = ucnt.select(F.col("tok").alias("lw"), F.col("c").alias("c_lw"))
    ur = ucnt.select(F.col("tok").alias("rw"), F.col("c").alias("c_rw"))
    return (
        bcnt.join(ul, "lw")
        .join(ur, "rw")
        .crossJoin(F.broadcast(tot))
        .select(
            F.concat_ws(" ", F.col("lw"), F.col("rw")).alias("bigram"),
            "c_xy",
            F.expr("(c_xy * 1000000) div c_lw * n div c_rw").alias("lift_micro"),
        )
        .orderBy(F.desc("lift_micro"), F.asc("bigram"))
        .limit(COLLOC_TOP)
    )


# --- tx17: repetition quality signals (Gopher-style) ---------------------------


@query(
    "tx17_repetition_signals",
    oracle=f"""
    WITH words AS (
        SELECT doc_id, {words_sql()} AS w FROM documents
    ), uni AS (
        SELECT doc_id, u.tok, CAST(COUNT(*) AS BIGINT) AS c
        FROM words, UNNEST(w) AS u(tok)
        GROUP BY doc_id, u.tok
    ), uni_top AS (
        SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words,
               CAST(COUNT(*) AS BIGINT) AS distinct_words,
               MAX(c) AS top_word_n
        FROM uni GROUP BY doc_id
    ), bi AS (
        SELECT doc_id, g.b, CAST(COUNT(*) AS BIGINT) AS c
        FROM words, UNNEST({ngrams_sql("w", 2)}) AS g(b)
        GROUP BY doc_id, g.b
    ), bi_top AS (
        SELECT doc_id, MAX(c) AS top_bigram_n FROM bi GROUP BY doc_id
    )
    SELECT u.doc_id, u.n_words, u.distinct_words, u.top_word_n,
           COALESCE(b.top_bigram_n, 0) AS top_bigram_n,
           (u.top_word_n * 5 > u.n_words) AS top_word_heavy,
           (COALESCE(b.top_bigram_n, 0) * 100 > 18 * (u.n_words - 1))
               AS top_bigram_heavy,
           (u.distinct_words * 2 < u.n_words) AS low_diversity
    FROM uni_top u LEFT JOIN bi_top b ON u.doc_id = b.doc_id
    ORDER BY u.doc_id
    """,
)
def tx17_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality signals per document — the Gopher-rule
    family (Rae et al. 2021 §A1.1: top n-gram fraction, duplicate
    fraction) that production LLM pipelines apply before training:
    documents dominated by one word, one bigram, or a tiny vocabulary
    are boilerplate/spam and get gated out.

    Signals (all integer-exact, thresholds cross-multiplied so both
    engines decide identically — no float fraction is ever compared):
    ``top_word_heavy`` (most frequent word > 20% of tokens),
    ``top_bigram_heavy`` (most frequent bigram > 18% of bigram slots —
    Gopher's 0.18), ``low_diversity`` (distinct words < half of
    tokens). The raw counts ride along for downstream threshold tuning.

    Scale shape: explode to (doc, gram) → count → per-doc MAX, for
    unigrams and bigrams — two doc-keyed aggregation chains over one
    scan, linear in tokens, no window and no per-doc sort (the MAX
    replaces a rank). Complements tx01's length/punctuation heuristics
    and ml05's model scores; tp06's curation report is where the gates
    compose.
    """
    documents = spread_scan(load_table(spark, sf_dir, "documents"))
    docs = documents.select("doc_id", words().alias("w"))
    uni = (
        docs.select("doc_id", F.explode("w").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
    )
    uni_top = uni.groupBy("doc_id").agg(
        F.sum("c").alias("n_words"),
        F.count("*").alias("distinct_words"),
        F.max("c").alias("top_word_n"),
    )
    bi = (
        docs.select("doc_id", F.explode(ngrams(F.col("w"), 2)).alias("b"))
        .groupBy("doc_id", "b")
        .agg(F.count("*").alias("c"))
    )
    bi_top = bi.groupBy("doc_id").agg(F.max("c").alias("top_bigram_n"))
    out = uni_top.join(bi_top, "doc_id", "left").select(
        "doc_id",
        "n_words",
        "distinct_words",
        "top_word_n",
        F.coalesce(F.col("top_bigram_n"), F.lit(0)).alias("top_bigram_n"),
        (F.col("top_word_n") * 5 > F.col("n_words")).alias("top_word_heavy"),
        (
            F.coalesce(F.col("top_bigram_n"), F.lit(0)) * 100
            > 18 * (F.col("n_words") - 1)
        ).alias("top_bigram_heavy"),
        (F.col("distinct_words") * 2 < F.col("n_words")).alias("low_diversity"),
    )
    return out.orderBy("doc_id")


# --- tx18: lexical-diversity profile (type/token, hapax) ------------------------


@query(
    "tx18_lexical_diversity",
    oracle=f"""
    WITH words AS (
        {unnest_words_sql("source")}
    ), vocab AS (
        SELECT source, word, CAST(COUNT(*) AS BIGINT) AS c
        FROM words WHERE LENGTH(word) >= 1
        GROUP BY source, word
    )
    SELECT source,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(COUNT(*) FILTER (c = 1) AS BIGINT) AS n_hapax,
           CAST((1000 * COUNT(*)) // SUM(c) AS BIGINT) AS ttr_milli,
           CAST((1000 * COUNT(*) FILTER (c = 1)) // COUNT(*) AS BIGINT)
               AS hapax_milli
    FROM vocab
    GROUP BY source ORDER BY source
    """,
)
def tx18_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source lexical-diversity profile: type-token ratio and hapax
    legomenon share — the vocabulary-health counterpart of tx17's
    repetition signals (tx17 flags over-repeated DOCUMENTS; this
    profiles whether a SOURCE's vocabulary is template-collapsed).
    A source whose TTR or hapax share craters relative to its peers is
    boilerplate/generated text and a dedup/filter target (the Gopher
    rules' corpus-level analog).

    Two aggregates, both bounded: tokens collapse map-side onto the
    (source, word) key (vocabulary-sized shuffle, the a18/tx* family
    posture), then the per-source rollup is |vocab|-sized. Ratios are
    integer per-mille floor-divisions of exact BIGINT counts — nothing
    float crosses the engine boundary. Tokenization is the family's
    shared contract (lowercase, single-space split — a18's form, so
    profiles reconcile with the word-frequency table).
    """
    documents = load_table(spark, sf_dir, "documents")
    vocab = (
        word_rows(documents, "source", min_len=1)
        .groupBy("source", "word")
        .agg(F.count("*").alias("c"))
    )
    return (
        vocab.groupBy("source")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count("*").alias("n_types"),
            F.count(F.when(F.col("c") == 1, 1)).alias("n_hapax"),
            F.expr("(1000 * count(*)) div sum(c)").alias("ttr_milli"),
            F.expr(
                "(1000 * count(case when c = 1 then 1 end)) div count(*)"
            ).alias("hapax_milli"),
        )
        .orderBy("source")
    )


# --- tx19: language-ID confusion matrix ---------------------------------------------


@query(
    "tx19_langid_confusion",
    oracle=f"""
    WITH pred AS (
        SELECT lang AS labeled_lang,
               {_PREDICTED_LANG_SQL} AS predicted_lang
        FROM documents
    )
    SELECT labeled_lang, predicted_lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM pred GROUP BY labeled_lang, predicted_lang
    ORDER BY labeled_lang, predicted_lang
    """,
)
def tx19_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of tx03's language-ID heuristic against the
    corpus labels — the eval leg the classifier family requires of
    every inference op (ml05 gets ml06/ml08; tx03 gets this): a
    lang-ID used to route documents into per-language dedup/filter
    pipelines silently mis-routes whatever it confuses, and this
    matrix is the audit. Replays tx03's exact marker rule (shared
    decision tree on both engines), one grouped count over the
    |langs|² grid.
    """
    documents = load_table(spark, sf_dir, "documents")
    pred = documents.select(
        F.col("lang").alias("labeled_lang"),
        _predicted_lang().alias("predicted_lang"),
    )
    return (
        pred.groupBy("labeled_lang", "predicted_lang")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("labeled_lang", "predicted_lang")
    )


# --- tx20: vocabulary growth (Heaps curve) -------------------------------------------

HEAPS_BUCKETS = 10  # fixed-width doc_id ranges — output size is scale-free


@query(
    "tx20_heaps_curve",
    oracle=f"""
    WITH mx AS (SELECT MAX(doc_id) AS mdoc FROM documents),
    words AS (
        {unnest_words_sql("doc_id")}
    ), w2 AS (
        SELECT doc_id, word FROM words WHERE LENGTH(word) >= 1
    ), tok AS (
        SELECT CAST((doc_id * {HEAPS_BUCKETS}) // (mdoc + 1) AS BIGINT) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS toks
        FROM w2, mx GROUP BY 1
    ), fs AS (
        SELECT word, MIN(doc_id) AS fdoc FROM w2 GROUP BY word
    ), typ AS (
        SELECT CAST((fdoc * {HEAPS_BUCKETS}) // (mdoc + 1) AS BIGINT) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS ntypes
        FROM fs, mx GROUP BY 1
    )
    SELECT t.bucket,
           CAST(COALESCE(y.ntypes, 0) AS BIGINT) AS new_types,
           CAST(SUM(t.toks) OVER (ORDER BY t.bucket) AS BIGINT) AS cum_tokens,
           CAST(SUM(COALESCE(y.ntypes, 0)) OVER (ORDER BY t.bucket) AS BIGINT)
               AS cum_types,
           CAST((1000 * SUM(COALESCE(y.ntypes, 0)) OVER (ORDER BY t.bucket)) //
                SUM(t.toks) OVER (ORDER BY t.bucket) AS BIGINT) AS ttr_milli
    FROM tok t LEFT JOIN typ y ON t.bucket = y.bucket
    ORDER BY t.bucket
    """,
)
def tx20_heaps_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-growth (Heaps-law) curve: cumulative distinct word
    types vs cumulative tokens across the corpus in ingestion-key
    order — the diminishing-returns measurement behind "is more of this
    source still adding new language?". tx18 profiles each source's
    diversity at rest; this measures the corpus's MARGINAL diversity
    (new_types per bucket falling toward zero = the crawl is saturated
    and further ingestion mostly buys duplicates — a dedup/budget
    signal, Heaps 1978).

    A type is attributed to the bucket of its FIRST appearance
    (MIN doc_id per word — order-free, repartition-invariant; dd14's
    attribution rule at word grain). Buckets are {HEAPS_BUCKETS}
    fixed doc_id ranges, so output size is scale-free; the cumulative
    windows run over that bounded relation only. Heavy lifting is two
    vocabulary-keyed aggregates (the a18/tx* shuffle posture);
    tokenization is the family's shared contract (lowercase,
    single-space split).
    """
    documents = load_table(spark, sf_dir, "documents")
    mx = documents.agg(F.max("doc_id").alias("mdoc"))
    words = word_rows(documents, "doc_id", min_len=1)
    bucket_of = lambda c: F.expr(f"({c} * {HEAPS_BUCKETS}) div (mdoc + 1)")
    tok = (
        words.crossJoin(F.broadcast(mx))
        .groupBy(bucket_of("doc_id").alias("bucket"))
        .agg(F.count("*").alias("toks"))
    )
    fs = words.groupBy("word").agg(F.min("doc_id").alias("fdoc"))
    typ = (
        fs.crossJoin(F.broadcast(mx))
        .groupBy(bucket_of("fdoc").alias("bucket"))
        .agg(F.count("*").alias("ntypes"))
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    joined = tok.join(typ, "bucket", "left").select(
        "bucket",
        F.coalesce("ntypes", F.lit(0)).alias("new_types"),
        F.col("toks"),
    )
    return joined.select(
        "bucket",
        "new_types",
        F.sum("toks").over(w).alias("cum_tokens"),
        F.sum("new_types").over(w).alias("cum_types"),
        F.expr(
            "(1000 * sum(new_types) over (order by bucket "
            "rows between unbounded preceding and current row)) div "
            "sum(toks) over (order by bucket "
            "rows between unbounded preceding and current row)"
        ).alias("ttr_milli"),
    ).orderBy("bucket")


# --- tx21: source-pair vocabulary Jaccard --------------------------------------------


@query(
    "tx21_source_vocab_jaccard",
    oracle=f"""
    WITH vocab AS MATERIALIZED (
        SELECT DISTINCT source, word FROM (
            {unnest_words_sql("source")}
        ) WHERE LENGTH(word) >= 1
    ), sizes AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_types
        FROM vocab GROUP BY source
    ), inter AS (
        SELECT a.source AS source_a, b.source AS source_b,
               CAST(COUNT(*) AS BIGINT) AS n_inter
        FROM vocab a JOIN vocab b
          ON a.word = b.word AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT i.source_a, i.source_b, sa.n_types AS types_a,
           sb.n_types AS types_b, i.n_inter,
           CAST((1000 * i.n_inter) //
                (sa.n_types + sb.n_types - i.n_inter) AS BIGINT)
               AS jaccard_milli
    FROM inter i
    JOIN sizes sa ON sa.source = i.source_a
    JOIN sizes sb ON sb.source = i.source_b
    ORDER BY jaccard_milli DESC, i.source_a, i.source_b
    """,
)
def tx21_source_vocab_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-pair VOCABULARY similarity: Jaccard over each source's
    word-type set — the lexical companion to tp20's document-level
    overlap matrix (tp20 finds near-dup DOCS straddling two feeds;
    this finds feeds that speak the same language even when no
    document is shared — e.g. two scrapes of the same site family).
    High vocab Jaccard + low tp20 overlap = paraphrase/mirror-family
    candidates for the dedup budget.

    Scale shape: the type sets come from one (source, word) dedup
    (vocabulary-sized shuffle, the tx* posture); the intersection join
    keys on the WORD, and per word the pair fan-out is C(sources-with-
    word, 2) — bounded by the SOURCE count squared, never the corpus
    (with very hot universal words the per-word group is still only
    |sources| rows). Output is the source×source matrix; ratios are
    integer per-mille of exact BIGINT counts.
    """
    documents = load_table(spark, sf_dir, "documents")
    vocab = word_rows(documents, "source", min_len=1).distinct()
    sizes = vocab.groupBy("source").agg(F.count("*").alias("n_types"))
    a, b = vocab.alias("a"), vocab.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.word") == F.col("b.word"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b")
        )
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("source").alias("source_a"), F.col("n_types").alias("types_a"))
    sb = sizes.select(F.col("source").alias("source_b"), F.col("n_types").alias("types_b"))
    return (
        inter.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "types_a",
            "types_b",
            "n_inter",
            F.expr("(1000 * n_inter) div (types_a + types_b - n_inter)").alias(
                "jaccard_milli"
            ),
        )
        .orderBy(F.desc("jaccard_milli"), "source_a", "source_b")
    )


# --- tx22: Zipf rank-decay curve -------------------------------------------------

TX22_MAX_RANK = 256  # probe ranks 1, 2, 4, ..., 256 (needs top 512)


@query(
    "tx22_rank_decay",
    oracle=f"""
    WITH c AS (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM {word_rows_sql(min_len=3)}
        GROUP BY word
    ), top AS (
        SELECT word, cnt,
               ROW_NUMBER() OVER (ORDER BY cnt DESC, word ASC) AS r
        FROM c
        QUALIFY r <= {2 * TX22_MAX_RANK}
    )
    SELECT a.r AS rank, a.cnt AS cnt, b.cnt AS cnt_2x,
           (1000 * b.cnt) // a.cnt AS decay_milli
    FROM top a JOIN top b ON b.r = 2 * a.r
    WHERE a.r IN (1, 2, 4, 8, 16, 32, 64, 128, 256)
    ORDER BY rank
    """,
)
def tx22_rank_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-decay curve: count(2r)/count(r) per-mille at doubling
    ranks — the corpus-health fingerprint a log-log slope fit gives,
    WITHOUT floats (a Zipfian corpus with exponent s shows a flat
    curve near 2^-s·1000 ≈ 500‰; template/boilerplate corpora bow it,
    and a sudden cliff marks a truncated vocabulary). Same tokenization
    contract as a18 (lowercased whitespace words, length ≥ 3).

    Integer-exact by construction: counts are BIGINTs, the decay ratio
    is one cross-multiplied ``div``, and ranks come from a total order
    (count DESC, word ASC) both engines replay identically — no
    ln()/log-fit whose libm last-ulp would break the driver hash
    (ts10's sufficient-stats fit covers the float-regression cell).

    Scale shape: the vocabulary aggregate is the only real shuffle;
    the global ordering touches ONLY the top {2 * TX22_MAX_RANK} rows
    via TakeOrdered (per-partition top-k, no single-partition sort of
    the vocab), and the rank window runs over that bounded relation.

    Parity: beyond-reference (frequency analytics seed
    cbddl/src/analytics/demographics_analyzer.py:71-96 value_counts).
    """
    documents = spread_scan(load_table(spark, sf_dir, "documents"))
    counts = (
        word_rows(documents, min_len=3)
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )
    top = counts.orderBy(F.desc("cnt"), F.asc("word")).limit(2 * TX22_MAX_RANK)
    w = Window.orderBy(F.desc("cnt"), F.asc("word"))
    ranked = top.withColumn("r", F.row_number().over(w))
    probe_ranks = [1 << i for i in range(9)]  # 1..256
    a = ranked.filter(F.col("r").isin(probe_ranks)).alias("a")
    b = ranked.alias("b")
    return (
        a.join(b, F.col("b.r") == 2 * F.col("a.r"))
        .select(
            F.col("a.r").alias("rank"),
            F.col("a.cnt").alias("cnt"),
            F.col("b.cnt").alias("cnt_2x"),
            F.expr("(1000 * b.cnt) div a.cnt").alias("decay_milli"),
        )
        .orderBy("rank")
    )
