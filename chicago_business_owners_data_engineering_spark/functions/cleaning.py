"""Cleaning / normalization column functions (SURVEY.md §2.8 F1–F4, §1.2).

The reference's load-bearing missing-value semantics: the tokens
``'', ' ', 'N/A', 'NULL', 'null'`` are coerced to NULL at CSV load
(cbddl/src/data_ingestion/ingestion_pipeline.py:43) and post-trim empty
strings become NULL again (:89). Spark's CSV ``nullValue`` handles a
single token, so the full token set is normalized with an expression —
which also makes the rule applicable to any source, not just CSV.

Name concatenation follows ``concat_ws`` semantics (skip NULLs, single
separator between present parts) — matching the reference's row-apply
``combine_name`` (:109-123) and chosen over its SQL variant
``CONCAT(COALESCE(..,''),…)`` which leaves empty-string gaps
(cbddl/src/etl/pipeline.py:330); see SURVEY.md §7 risk register.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tokens treated as missing, matched case-sensitively after trim
# (mirrors the reference's na_values list).
NULL_TOKENS = ("", "N/A", "NULL", "null", "n/a", "None")


def null_if_token(col: Column) -> Column:
    """NULL when the trimmed value is a missing-data token (F2)."""
    trimmed = F.trim(col)
    return F.when(trimmed.isin(*NULL_TOKENS), F.lit(None)).otherwise(col)


def normalize_string(col: Column) -> Column:
    """trim → upper → token-null coercion in one expression (F1+F2)."""
    trimmed = F.upper(F.trim(col))
    return F.when(trimmed.isin(*[t.upper() for t in NULL_TOKENS]), F.lit(None)).otherwise(
        trimmed
    )


def combine_name(*parts: Column) -> Column:
    """Join name parts with single spaces, skipping NULLs (F3/U1).

    ``concat_ws`` natively skips NULL arguments — semantically identical
    to the reference's row-wise combine_name, with zero Python in the
    row path. Empty strings are first coerced to NULL so they don't
    produce double separators.
    """
    return F.concat_ws(" ", *[null_if_token(p) for p in parts])


def is_individual(owner_entity_col: Column) -> Column:
    """F4: NULL legal-entity ⇒ individual owner
    (cbddl/src/data_ingestion/ingestion_pipeline.py:103)."""
    return null_if_token(owner_entity_col).isNull()
