"""Hash-assignment column builders: the one portable key hash and the
rules every split, sample, A/B variant, shard and skew bucket composes
from it, each replayable by its DuckDB twin in
``operators/shared_oracles``. No ``rand()``: an assignment is a pure
function of its key, stable across runs, engines, partitionings and
data order. Registry-free (pyspark plus the import-pure weight table),
like ``text``, so operator and plan modules import it at module top.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..operators.shared_oracles import DEFAULT_WEIGHT, SOURCE_WEIGHTS


def md5_prefix(key: Column) -> Column:
    """The BIGINT of the first 8 hex characters of the md5 of ``key``
    cast to string (``md5_prefix_sql``), a uniform in [0, 2^32).

    Known limit of the twin contract: a NULL key gives NULL here, while
    the twin's ``CONCAT`` drops the NULL and DuckDB fails to cast
    ``'0x'`` — so the twins agree only on non-NULL keys (every hashed
    key is a non-NULL id)."""
    return F.conv(F.substring(F.md5(key.cast("string")), 1, 8), 16, 10).cast("long")


def md5_bucket(key: Column, n_buckets: int = 100) -> Column:
    """The [0, n_buckets) bucket of :func:`md5_prefix` (``md5_bucket_sql``)."""
    return md5_prefix(key) % n_buckets


def split_label(bucket: Column) -> Column:
    """The 80/10/10 rule on a [0, 100) bucket: ``train`` below 80,
    ``valid`` below 90, else ``test`` (``split_label_sql``)."""
    return F.when(bucket < 80, "train").when(bucket < 90, "valid").otherwise("test")


def mixture_weight() -> Column:
    """The per-``source`` keep percentage of ``SOURCE_WEIGHTS``, one flat
    CASE with ``DEFAULT_WEIGHT`` for every other source
    (``MIXTURE_WEIGHT_SQL``)."""
    (sources, w), *rest = SOURCE_WEIGHTS.items()
    weight = F.when(F.col("source").isin(*sources), w)
    for sources, w in rest:
        weight = weight.when(F.col("source").isin(*sources), w)
    return weight.otherwise(DEFAULT_WEIGHT)
