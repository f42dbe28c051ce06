"""Local differential harness mimicking the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same parquet tables, comparing row count, column names,
and an order-insensitive, DTYPE-SENSITIVE value hash.

Why dtype-sensitive: the external driver fetches both sides into pandas
and hashes values at the pandas level (hash_pandas_object-style), so
``3`` (int64) and ``3.0`` (float64) hash differently even though a
string comparison would call them equal.  Round 2 lost two queries to
exactly this — DuckDB ``SUM(BIGINT)`` returns HUGEINT which ``.df()``
converts to float64, while Spark returns int64.  This harness therefore:

- fetches the DuckDB side via ``.df()`` (NOT ``fetchall()``, whose
  HUGEINT→int conversion masks the divergence) and the Spark side via
  ``toPandas()``;
- canonicalizes every cell with a type tag: integral values (any width —
  the driver's hash is width-insensitive: int32 ntile vs BIGINT NTILE
  passed in r02) vs floats vs bools vs timestamps vs dates vs decimals
  all hash apart;
- canonicalizes float64 by exact ``repr`` bits — the driver hashes raw
  float bits, so outputs must be ROUND()ed identically on both engines,
  and a last-ulp divergence must flag here before the driver sees it;
- flags array-/list-typed output cells in ANY query (including
  rows-only ones): the driver's canonicalizer pandas-sorts all columns
  and crashes on unhashable lists (r02: a31_freq_items).

Usage:

    python tools/check_oracle.py [--vanilla] [--json out.json] [sf_dir] [query_name ...]

``--vanilla`` runs the Spark side on a bare SparkSession (UTC timezone
only — no AQE/Arrow/shuffle tuning from session.get_spark), mimicking
the DRIVER's environment; catches any query that silently depends on
our own session configuration.
"""

from __future__ import annotations

import datetime
import decimal
import sys
import time
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


class UnhashableCell(Exception):
    """An array/map-typed cell the driver's canonicalizer would crash on."""


def canon_cell(v) -> str:
    # Containers first: pd.isna() on them returns an array, and the
    # driver crashes on them — surface that as a distinct failure.
    if isinstance(v, (list, tuple, set, np.ndarray, dict)):
        raise UnhashableCell(type(v).__name__)
    if v is None or v is pd.NaT:
        return "∅"
    if isinstance(v, (bool, np.bool_)):
        return f"b:{bool(v)}"
    if isinstance(v, (int, np.integer)):
        return f"i:{int(v)}"
    if isinstance(v, (float, np.floating)):
        fv = float(v)
        if fv != fv:  # NaN — both engines emit NaN for NULL-in-float
            return "∅"
        # Exact bits: the driver hashes the float64 payload, so any
        # cross-engine jitter must be visible here, not masked by %.6g.
        return f"f:{fv!r}"
    if isinstance(v, (pd.Timestamp, np.datetime64, datetime.datetime)):
        ts = pd.Timestamp(v)
        if pd.isna(ts):
            return "∅"
        return f"ts:{ts.isoformat()}"
    if isinstance(v, datetime.date):
        # Deliberately distinct from ts: — a Spark DATE column arrives in
        # pandas as date objects while DuckDB DATE becomes datetime64, a
        # dtype split the driver's hash would flag.
        return f"date:{v.isoformat()}"
    if isinstance(v, decimal.Decimal):
        return f"dec:{v}"
    if isinstance(v, (bytes, bytearray)):
        return f"bytes:{bytes(v).hex()}"
    if pd.isna(v):
        return "∅"
    return f"s:{v}"


def canon_frame(df: pd.DataFrame) -> list[str]:
    cols = sorted(df.columns)
    out = []
    for row in df[cols].itertuples(index=False, name=None):
        out.append("|".join(canon_cell(v) for v in row))
    out.sort()
    return out


def array_typed_cols(df: pd.DataFrame) -> list[str]:
    bad = []
    for c in df.columns:
        col = df[c]
        if col.dtype == object and len(col):
            # first NON-NULL value: a null in row 0 must not hide an
            # array-typed column from the driver-crash check
            non_null = col.dropna()
            if len(non_null) and isinstance(
                non_null.iloc[0], (list, tuple, set, np.ndarray, dict)
            ):
                bad.append(c)
    return bad


def main() -> int:
    args = sys.argv[1:]
    vanilla = "--vanilla" in args
    if vanilla:
        args = [a for a in args if a != "--vanilla"]
    json_path = None
    if "--json" in args:
        i = args.index("--json")
        json_path = args[i + 1]
        del args[i : i + 2]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    import __spark_entry__ as mod

    if vanilla:
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[8]")
            .appName("oracle-check-vanilla")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
    else:
        from chicago_business_owners_data_engineering_spark.session import get_spark

        spark = get_spark("oracle-check", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = mod.queries()
    oracles = mod.oracle_sql()
    failures, passes, rows_only = [], [], []
    # CORRECTNESS_r*.json-shaped record per query, written when --json
    # is passed — makes a full local run a committable, reproducible
    # artifact in the same format the external driver records.
    records: dict[str, dict] = {}

    def record(name, *, rows=None, schema=None, hsh=None, s_rows=None, o_rows=None, err=None):
        records[name] = {
            "rows_match": rows,
            "schema_match": schema,
            "hash_match": hsh,
            "spark_rows": s_rows,
            "oracle_rows": o_rows,
            "err": err,
        }

    for name in sorted(qs):
        if only and name not in only:
            continue
        # Bound the sweep's memory footprint: a query's pins
        # (catalog.generation) live until its owner's next call, so
        # across a 300+-query sweep every owner's last generation would
        # otherwise stay cached. Per-query timing stays honest too:
        # nothing is pre-warmed by an earlier query.
        spark.catalog.clearCache()
        t0 = time.time()
        try:
            sdf = qs[name](spark, sf_dir)
            spd = sdf.toPandas()
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"SPARK ERROR: {type(e).__name__}: {e}"))
            record(name, err=f"spark error: {type(e).__name__}: {e}")
            print(f"FAIL  {name}: spark error: {e}")
            continue
        # The driver canonicalizes rows-only results too — array-typed
        # cells crash it regardless of whether an oracle exists.
        arr_cols = array_typed_cols(spd)
        if arr_cols:
            failures.append(
                (name, f"driver-crash risk: array-typed output columns {arr_cols}")
            )
            record(name, err=f"array-typed output columns {arr_cols}")
            print(f"FAIL  {name}: array-typed output columns {arr_cols}")
            continue
        if name not in oracles:
            rows_only.append(name)
            record(name, s_rows=len(spd), err="rows-only (no oracle by design)")
            print(f"rows  {name}: {len(spd)} rows (no oracle) [{time.time()-t0:.1f}s]")
            continue
        try:
            dpd = con.execute(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"DUCKDB ERROR: {type(e).__name__}: {e}"))
            record(name, s_rows=len(spd), err=f"duckdb error: {type(e).__name__}: {e}")
            print(f"FAIL  {name}: duckdb error: {e}")
            continue

        problems = []
        schema_ok = sorted(spd.columns) == sorted(dpd.columns)
        rows_ok = len(spd) == len(dpd)
        hash_ok = None
        if not schema_ok:
            problems.append(
                f"columns differ: spark={sorted(spd.columns)} duckdb={sorted(dpd.columns)}"
            )
        if not rows_ok:
            problems.append(f"row count differs: spark={len(spd)} duckdb={len(dpd)}")
        if not problems:
            try:
                sc = canon_frame(spd)
                dc = canon_frame(dpd)
            except UnhashableCell as e:
                problems.append(f"driver-crash risk: unhashable cell ({e})")
            else:
                hash_ok = sc == dc
                if not hash_ok:
                    diffs = [(a, b) for a, b in zip(sc, dc) if a != b][:3]
                    problems.append(f"values differ, first diffs: {diffs}")
        record(
            name,
            rows=rows_ok,
            schema=schema_ok,
            hsh=hash_ok,
            s_rows=len(spd),
            o_rows=len(dpd),
            err="; ".join(problems) if problems else None,
        )
        if problems:
            failures.append((name, "; ".join(problems)))
            print(f"FAIL  {name}: {'; '.join(problems)}")
        else:
            passes.append(name)
            print(f"ok    {name}: {len(spd)} rows [{time.time()-t0:.1f}s]")

    print(
        f"\n{len(passes)} ok, {len(rows_only)} rows-only, {len(failures)} failed"
        f" of {len([n for n in qs if not only or n in only])}"
    )
    for name, why in failures:
        print(f"  FAIL {name}: {why[:300]}")
    if json_path:
        import json

        with open(json_path, "w") as f:
            json.dump(
                {
                    "sf_dir": sf_dir,
                    "vanilla": vanilla,
                    "summary": {
                        "ok": len(passes),
                        "rows_only": len(rows_only),
                        "failed": len(failures),
                    },
                    "queries": records,
                },
                f,
                indent=1,
            )
        print(f"wrote {json_path}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
