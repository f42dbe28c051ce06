"""Text-family column and relation builders: the one tokenizer and the
steps every text query composes from it. Each names its DuckDB twin in
``operators/shared_oracles``. Registry-free and importing only pyspark
and ``sampling``, like ``cleaning``, so operator and plan modules import
it at module top without closing the import cycle a UDF-unpickling
Python worker walks.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .sampling import md5_bucket

# words("text") as Spark SQL text, for queries built from SQL strings.
WORDS_EXPR = "split(lower(text), ' ')"


def words(text: Column | str = "text") -> Column:
    """Lowercase, then split on one space, keeping the empty strings
    that repeated, leading or trailing spaces leave (``words_sql``).

    Known limit of the twin contract: the engines lowercase some
    non-ASCII characters differently — U+0130 (``İ``) becomes ``i`` +
    U+0307 in Spark and ``i`` in DuckDB — so the twins agree only on
    text without such characters (every ``documents`` fixture is ASCII)."""
    return F.split(F.lower(text), " ")


def word_set() -> Column:
    """The sorted distinct :func:`words` of ``text`` (``WORD_SET_SQL``)."""
    return F.array_sort(F.array_distinct(words()))


def ws_tokens() -> Column:
    """The case-preserving single-space split of ``text`` (``WS_TOKENS_SQL``)."""
    return F.split("text", " ")


def shifted(tokens: Column, n: int) -> Column:
    """``arrays_zip`` of ``n`` shifted slices of a word list: one struct
    (fields ``"0"`` … ``"n-1"``) per n-gram position, none for a list
    under ``n`` words (the slice length is clamped at 0: Spark rejects a
    negative one). Zipped slices stay vectorized, ~10× faster than
    transform-over-indices with element_at."""
    count = F.greatest(F.size(tokens) - (n - 1), F.lit(0))
    return F.arrays_zip(*[F.slice(tokens, i + 1, count) for i in range(n)])


def ngrams(tokens: Column, n: int) -> Column:
    """The space-joined word ``n``-grams, repeats kept (``ngrams_sql``)."""
    return F.transform(
        shifted(tokens, n), lambda s: F.concat_ws(" ", *[s[str(i)] for i in range(n)])
    )


def word_rows(
    docs: DataFrame, *keys: str, min_len: int | None = None, name: str = "word"
) -> DataFrame:
    """``(keys…, name)``: one row per word of ``docs.text``, of at least
    ``min_len`` characters when given (``word_rows_sql``)."""
    rows = docs.select(*keys, F.explode(words()).alias(name))
    return rows if min_len is None else rows.filter(F.length(name) >= min_len)


def token_rows(docs: DataFrame) -> DataFrame:
    """``(doc_id, tok)``: the non-empty :func:`ws_tokens` of each
    document (``WS_TOKS_SQL`` with ``tok <> ''``)."""
    return docs.select("doc_id", F.explode(ws_tokens()).alias("tok")).filter(
        F.col("tok") != ""
    )


def repetition_stats(docs: DataFrame) -> DataFrame:
    """``(doc_id, n_tokens, dup_token_frac, top_token_frac)``: the Gopher
    repetition statistics of each document's :func:`token_rows`, counted
    per ``(doc_id, tok)`` and then per document (``REPETITION_STATS_SQL``)."""
    counts = token_rows(docs).groupBy("doc_id", "tok").agg(F.count("*").alias("c"))
    n = F.sum("c")
    return counts.groupBy("doc_id").agg(
        n.alias("n_tokens"),
        (1 - F.count("*") / n).alias("dup_token_frac"),
        (F.max("c") / n).alias("top_token_frac"),
    )


def hashed_tokens(docs: DataFrame, n_buckets: int, *keys: str) -> DataFrame:
    """``(doc_id, keys…, bucket)``: each word hashed into ``n_buckets``
    features, the fastText and DSIR hashing trick (``hashed_tokens_sql``)."""
    return word_rows(docs, "doc_id", *keys, name="tok").select(
        "doc_id", *keys, md5_bucket(F.col("tok"), n_buckets).alias("bucket")
    )
