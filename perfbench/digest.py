"""Order-insensitive, type-tagged digests of query results.

Both sides of a check pass through pandas the way a caller's client
would see them: the Spark side via Arrow (nullable integers become
floats, timestamps stay naive UTC), the DuckDB side via ``.df()``.
Cells and rows are canonicalised by ``tools/check_oracle.py``, the
repository's oracle harness (each cell tagged with its kind, rows
sorted), and the sorted rows are hashed, so an int that came back as a
float, or a float off in its last bit, changes the digest.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pyarrow as pa

from tools.check_oracle import canon_cell, canon_frame


def encode_nested(v):
    """Array, map and struct cells as one string.

    ``check_oracle`` refuses such cells (the registry's oracle contract
    has none); the benchmark still digests them, for the same-as-first
    check of queries without an oracle.
    """
    if isinstance(v, dict):
        v = list(v.items())
    if isinstance(v, (list, tuple, np.ndarray)):
        return "arr:" + ",".join(canon_cell(encode_nested(x)) for x in v)
    return v


def frame_digest(df) -> str:
    """``check_oracle``'s canonical rows, hashed with the column names."""
    nested = [c for c in df.columns if df[c].dtype == object]
    if nested:
        df = df.assign(**{c: df[c].map(encode_nested) for c in nested})
    rows = canon_frame(df)
    h = hashlib.sha256("\x1f".join(sorted(df.columns)).encode())
    for r in rows:
        h.update(b"\x1e" + r.encode())
    return f"{len(rows)}:{h.hexdigest()[:16]}"


def rows_digest(rows: list, schema) -> str:
    """Digest of ``DataFrame.collect()`` output, converted like toPandas."""
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema, timestamp_utc=False)
    columns = list(zip(*rows)) if rows else [[] for _ in schema.fields]
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return frame_digest(table.to_pandas())


def parquet_digest(con, path: str) -> str:
    """Digest of every parquet file under ``path`` (partition columns dropped)."""
    return frame_digest(
        con.execute(
            f"SELECT * FROM read_parquet('{path}/**/*.parquet', hive_partitioning=false)"
        ).df()
    )
