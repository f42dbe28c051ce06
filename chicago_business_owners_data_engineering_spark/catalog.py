"""Table catalog: parquet loading, scan spreading and pinned intermediates.

The reference declares a dtype map at CSV ingest and relies on parquet
self-describing schemas thereafter (SURVEY.md §1.3). We do the same:
parquet is the storage format and schemas travel with the files. Every
query reads its tables through :func:`load_table` as DataFrames; the
engine registers no temp views.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimension tables: always below any sane broadcast threshold, so
# joins against them should be broadcast-hash joins (no shuffle of the
# fact side). Used by operators to decide on an explicit broadcast hint.
SMALL_DIMS: frozenset[str] = frozenset({"region", "nation", "supplier", "part", "customer"})


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    return spark.read.parquet(table_path(sf_dir, name))


def spread_scan(df: DataFrame) -> DataFrame:
    """Round-robin repartition to the session's default parallelism.

    For compute-heavy per-row pipelines (shingling, edit distance,
    vector math) whose input is a SINGLE-row-group parquet fixture:
    Spark can only split parquet at row-group boundaries, so the scan —
    and every projection fused into it — runs as one task locally no
    matter what maxPartitionBytes says. Spreading the raw rows first
    costs one narrow shuffle of the (small) input and buys full-core
    evaluation of the expensive expressions above it. On a production
    table with many files/row groups this is a near-no-op (the scan is
    already parallel), so the call is safe to leave in at scale; put it
    BELOW the expensive projection — Spark does not push project
    through a user repartition, which is exactly the point.
    """
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


class Pins:
    """The one owner of persisted intermediate relations.

    ``pin(df)`` persists ``df`` lazily at ``df.persist()``'s default
    level (materialized by the first action that reaches it, lineage
    kept, so a lost block recomputes) and records it; ``release()``
    unpersists everything recorded. Two lifetimes use it:

    - ``with Pins() as pin:`` — a function that runs its own actions
      (the pipelines) releases its pins when the block exits, also on an
      exception.
    - ``pin = generation(owner)`` — a function that returns a lazy
      DataFrame cannot release its pins before the caller's action, so
      they live until the owner's next call. A long session therefore
      holds at most one generation per owner, and a repeated call never
      reuses the previous call's data: this is a scratch space, not a
      result cache. A plan whose pins were released just recomputes
      (correct, slower).

    No lock: the generation lookup is one dict operation. Two concurrent
    calls of the same owner can release each other's pins, which costs a
    recompute and never a wrong result; no pinned query runs inside the
    engine's thread pools (CLI analytics, warehouse dim writes, dq12).
    """

    def __init__(self) -> None:
        self._pinned: list[DataFrame] = []

    def __call__(self, df: DataFrame) -> DataFrame:
        df = df.persist()
        self._pinned.append(df)
        return df

    def release(self) -> None:
        # pop() is atomic: a concurrent release of the same pins neither
        # fails nor unpersists one relation twice
        while True:
            try:
                df = self._pinned.pop()
            except IndexError:
                return
            df.unpersist()

    def __enter__(self) -> Pins:
        return self

    def __exit__(self, *exc: object) -> None:
        self.release()


_GENERATIONS: dict[str, Pins] = {}


def generation(owner: str) -> Pins:
    """Release ``owner``'s previous generation; the returned
    :class:`Pins` records the new one."""
    pins = _GENERATIONS.setdefault(owner, Pins())
    pins.release()
    return pins
