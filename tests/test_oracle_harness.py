"""Self-tests for the differential-oracle comparator (tools/check_oracle).

The entire correctness story routes through canon_frame/canon_cell; a
comparator that canonicalizes two DIFFERENT results to the same string
would green-light broken queries. These tests pin that it detects every
mismatch class the harness claims to check — including the dtype
classes the external driver's pandas-level hash distinguishes (round 2
lost two queries to int64-vs-float64, and one to array-typed cells) —
while staying insensitive to row and column order.
"""

from __future__ import annotations

import datetime
import importlib.util
from pathlib import Path

import numpy as np
import pandas as pd
import pytest

ROOT = Path(__file__).resolve().parents[1]
spec = importlib.util.spec_from_file_location("check_oracle", ROOT / "tools" / "check_oracle.py")
check_oracle = importlib.util.module_from_spec(spec)
spec.loader.exec_module(check_oracle)
canon_frame = check_oracle.canon_frame
canon_cell = check_oracle.canon_cell
UnhashableCell = check_oracle.UnhashableCell


def test_insensitive_to_row_and_column_order():
    a = canon_frame(pd.DataFrame({"k": [1, 2], "v": ["x", "y"]}))
    b = canon_frame(pd.DataFrame({"v": ["y", "x"], "k": [2, 1]}))
    assert a == b


def test_detects_value_mismatch():
    a = canon_frame(pd.DataFrame({"k": [1], "v": ["x"]}))
    b = canon_frame(pd.DataFrame({"k": [1], "v": ["z"]}))
    assert a != b


def test_detects_row_count_mismatch():
    a = canon_frame(pd.DataFrame({"k": [1, 2]}))
    b = canon_frame(pd.DataFrame({"k": [1]}))
    assert a != b


def test_detects_swapped_values_across_columns():
    # same multiset of cell values, different row composition
    a = canon_frame(pd.DataFrame({"k": [1, 2], "v": ["x", "y"]}))
    b = canon_frame(pd.DataFrame({"k": [1, 2], "v": ["y", "x"]}))
    assert a != b


def test_int_vs_float_dtype_detected():
    # THE round-2 driver bug: DuckDB HUGEINT -> float64 3.0 vs Spark
    # int64 3. The driver hashes them apart; so must we.
    assert canon_cell(3) != canon_cell(3.0)
    assert canon_cell(np.int64(3)) != canon_cell(np.float64(3.0))


def test_int_width_insensitive():
    # the driver's hash casts integer widths to u64 — int32 ntile vs
    # BIGINT NTILE passed in r02, so widths must canonicalize equal
    assert canon_cell(np.int32(7)) == canon_cell(np.int64(7))


def test_float_bits_exact():
    # the driver hashes raw float64 bits; last-ulp jitter must flag
    assert canon_cell(1.23456789012) != canon_cell(1.23456789019)
    assert canon_cell(0.5) == canon_cell(np.float64(0.5))


def test_date_vs_timestamp_dtype_detected():
    # Spark DATE -> pandas date objects; DuckDB DATE -> datetime64.
    # Same instant, different dtype — the driver's hash flags it.
    d = datetime.date(2024, 1, 1)
    ts = pd.Timestamp("2024-01-01 00:00:00")
    assert canon_cell(d) != canon_cell(ts)
    assert canon_cell(ts) == canon_cell(datetime.datetime(2024, 1, 1))


def test_null_vs_string_null_distinct():
    assert canon_cell(None) != canon_cell("None")
    assert canon_cell(None) != canon_cell("")
    assert canon_cell(float("nan")) == canon_cell(None)  # NULL-in-float


def test_array_cells_raise():
    # the driver's canonicalizer crashes on unhashable list cells
    # (r02: a31_freq_items); the harness must surface, not mask, that
    with pytest.raises(UnhashableCell):
        canon_cell([1.0, 2.0])
    with pytest.raises(UnhashableCell):
        canon_cell(np.array([1, 2]))


def test_bool_not_conflated_with_int():
    assert canon_cell(True) != canon_cell(1)
    assert canon_cell(np.bool_(True)) == canon_cell(True)


def test_registry_rotation_survives_operator_module_first_import():
    """Circular-import window (round 5): importing an operator module
    (plans.warehouse) BEFORE registry runs registry's module body while
    warehouse is still partially initialized — its queries register only
    after the body finishes. The strict rotation used to raise there and
    poison the whole package import; the deferred rotation must instead
    yield the full, correctly-fronted registry at first access. Needs a
    fresh interpreter, hence the subprocess."""
    import subprocess
    import sys

    code = (
        "import chicago_business_owners_data_engineering_spark.plans.warehouse as w\n"
        "from chicago_business_owners_data_engineering_spark import registry\n"
        "q = registry.get_queries()\n"
        "assert len(q) >= registry.EXPECTED_MIN_QUERIES, len(q)\n"
        "assert list(q)[: len(registry._R09_FRONT)] == list(registry._R09_FRONT)\n"
        "print('ok')\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        cwd=ROOT,
        timeout=120,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "ok" in out.stdout
