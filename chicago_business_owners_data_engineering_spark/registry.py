"""Named query registry + DuckDB oracle twins.

Every operator from SURVEY.md §2 lands here as a pair:

- a PySpark callable ``(spark, sf_dir) -> DataFrame`` registered under a
  stable name, and
- (where SQL-expressible) an equivalent ANSI-SQL string that DuckDB can
  run over the same parquet tables, used for differential testing.

Column-name parity is part of the contract: the differential harness
sorts columns by name before hashing values, so both sides alias every
computed column identically.

Operator modules register themselves at import time via the
:func:`query` decorator; importing :mod:`registry` pulls them all in.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

# Single source of truth for the registry-size regression floor
# (tests/test_oracle_harness.py asserts get_queries() >= this). Bump it
# whenever queries are added so a silent registration drop of even one
# query fails CI.
EXPECTED_MIN_QUERIES = 319


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register ``fn`` as a named engine query, with optional oracle SQL.

    ``oracle=None`` marks a genuinely non-SQL-expressible operator
    (custom streaming state, LSH bucketing, ...) — the differential
    harness then records a weaker rows-only check for it.
    """

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# ORDER MATTERS for external verification: the driver's differential
# harness samples the FIRST 50 registered queries. The front is the 50
# queries with the oldest driver evidence (ascending last-sampled round,
# then name), derived mechanically from the CORRECTNESS_r*.json record
# by `python tools/rotation.py`; earlier fronts live in git history.
_R09_FRONT = (
    # last sampled r01
    "a28_countmin_heavy_hitters",
    "a29_cube",
    "dq02_constraint_checks",
    "dq03_volume_anomaly",
    "p01_projection",
    "p02_flag_filter",
    "p03_point_lookup",
    "p04_ci_substring",
    "p05_regex_predicate",
    "p06_null_drop",
    "p08_batch_scoped",
    # last sampled r02
    "dq01_quality_profile",
    "sim01_bruteforce_topk",
    "sim02_near_dup_vectors",
    "sim03_ivf_topk",
    "sim04_centroid_norms",
    "sim05_hyperplane_lsh",
    "sim07_batch_topk",
    "sim08_hybrid_search",
    # last sampled r03
    "a01_dataset_summary",
    "a02_approx_distinct",
    "a03_conditional_counts",
    "a04_conditional_distinct",
    "a05_orders_per_customer",
    "a06_grouped_multi_agg",
    "a07_bool_or_per_group",
    "a08_value_counts",
    "a09_topk_counts",
    "a10_scalar_stats",
    "a11_round_avg_by_group",
    "a14_duplicate_count",
    "a15_null_profile",
    "a16_shannon_entropy",
    "a16b_grouped_entropy",
    "a17_gini_simpson",
    "a20_keyword_buckets",
    "a21_distinct_projection",
    "a23_correlation",
    "a24_pct_of_total",
    "a25_map_value_counts",
    "a25_quantiles",
    "a26_rollup",
    "a27_pivot",
    "a29_hll_sketch_union",
    "a31_freq_items",
    "dd01_exact_dup_groups",
    "dd02_exact_dedup_rows",
    "dd03_jaccard_pairs",
    "dd04_minhash_lsh_pairs",
    "dd05_simhash",
)


def _import_operator_modules() -> None:
    # Import for side effects: each module registers its queries.
    from .operators import (  # noqa: F401
        joins,
        windows,
        sorts,
        graph,
        setops,
        monitoring,
    )
    from .plans import rules, warehouse  # noqa: F401
    from .operators import (  # noqa: F401
        associations,
        governance,
        incremental,
        linkage,
        olap,
        pipeline_ml,
        scalars,
        text,
        filters,
        multimodal,
        similarity,
        aggregates,
        clustering,
        curation,
        dedup,
        diversity,
        extended,
    )
    from .functions import udfs  # noqa: F401
    # last: composes stage helpers from plans.curation_pipeline over
    # operator modules above (clustering's FT constants at decoration)
    from .plans import pipeline_report  # noqa: F401


def _rotate_front(front: tuple[str, ...], strict: bool = True) -> bool:
    """Rebuild QUERIES so ``front`` registers first (driver samples 50).

    Registration order within modules is import-order; this explicit
    rotation decouples the driver-sample window from module layout so
    each round can front exactly the families that still lack hard
    driver-verified correctness rows.

    Returns True when the rotation was applied. ``strict=False`` exists
    for the circular-import window: when an operator module (e.g.
    plans.warehouse) is the FIRST thing imported, its ``..registry``
    import runs this module body while that module is still partially
    initialized, so its queries aren't registered yet — they land when
    the outer import resumes, AFTER this body finishes. Raising here
    would poison the whole package import; instead the body defers and
    every accessor re-applies the rotation (strictly) once every
    registered name exists.
    """
    missing = [n for n in front if n not in QUERIES]
    if missing:
        if strict:
            raise ValueError(f"rotation names not registered: {missing}")
        return False
    rest = [n for n in QUERIES if n not in set(front)]
    reordered = {n: QUERIES[n] for n in (*front, *rest)}
    QUERIES.clear()
    QUERIES.update(reordered)
    return True


_import_operator_modules()
_ROTATED = _rotate_front(_R09_FRONT, strict=False)


def _ensure_rotated() -> None:
    global _ROTATED
    if not _ROTATED:
        _ROTATED = _rotate_front(_R09_FRONT, strict=True)


def get_queries() -> dict[str, QueryFn]:
    _ensure_rotated()
    return dict(QUERIES)


def get_oracles() -> dict[str, str]:
    _ensure_rotated()
    return dict(ORACLES)


def describe() -> list[dict[str, Any]]:
    _ensure_rotated()
    return [
        {"name": n, "has_oracle": n in ORACLES, "doc": (fn.__doc__ or "").strip().splitlines()[0] if fn.__doc__ else ""}
        for n, fn in sorted(QUERIES.items())
    ]
