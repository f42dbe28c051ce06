"""Seeded generator for the engine's input tables.

Writes the ten catalog tables (TPC-H-ish star schema, ``events``,
``documents``, ``embeddings``) as one parquet file each, with the
schemas and value distributions of the engine's test fixtures. The
same ``(seed, sf)`` always yields byte-identical tables, so a run can
be repeated exactly and two seeds differ only in their random draws,
not in size or shape.

    python3 perfbench/datagen.py OUT_DIR --seed 7 --sf 0.01
"""

from __future__ import annotations

import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.42, 0.145, 0.145, 0.145, 0.145]
EMBED_DIM = 64
DUP_SHARE = 0.05

DAY_US = 86_400_000_000


def _days(start: str, end: str, n: int, rng: np.random.Generator) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return rng.integers(lo, hi + 1, n).astype("datetime64[D]").astype("datetime64[us]")


def _money(lo: float, hi: float, n: int, rng: np.random.Generator) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """Build every table in memory; sizes scale linearly with ``sf``."""
    rng = np.random.default_rng(seed)
    n_cust = max(15, int(150_000 * sf))
    n_supp = max(2, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(150, int(1_500_000 * sf))
    n_line = max(600, int(6_000_000 * sf))
    n_evt = max(100, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vec = max(500, int(20_000 * sf))
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": pa.array(REGIONS, s)}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": pa.array(_names("Customer", n_cust), s),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": pa.array(_money(-999.99, 9999.99, n_cust, rng), f64),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust), s),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": pa.array(_names("Supplier", n_supp), s),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": pa.array(_money(-999.99, 9999.99, n_supp, rng), f64),
        }
    )
    pkeys = np.arange(n_part)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(pkeys, i64),
            "p_name": pa.array(
                [f"{a} {b}" for a, b in zip(rng.choice(ADJECTIVES, n_part), rng.choice(NOUNS, n_part))],
                s,
            ),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], s),
            "p_type": pa.array(rng.choice(PART_TYPES, n_part), s),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": pa.array(np.round(900 + (pkeys % 1000) / 10, 1), f64),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord), s),
            "o_totalprice": pa.array(_money(1000, 500_000, n_ord, rng), f64),
            "o_orderdate": pa.array(_days("1995-01-01", "2001-08-01", n_ord, rng), ts),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord), s),
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64), f64),
            "l_extendedprice": pa.array(_money(900, 105_000, n_line, rng), f64),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100, f64),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100, f64),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line), s),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n_line), s),
            "l_shipdate": pa.array(_days("1995-01-02", "2001-11-04", n_line, rng), ts),
        }
    )
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_evt), i64),
            "ts": pa.array(
                np.sort(t0 + rng.integers(0, 30 * DAY_US, n_evt)).astype("datetime64[us]"), ts
            ),
            "user_id": pa.array(rng.integers(0, n_users, n_evt), i64),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n_evt), s),
            "value": pa.array(_money(0.01, 490.0, n_evt, rng), f64),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)], s),
        }
    )
    # 5% of documents are an earlier document's text plus " dup", the
    # near-duplicates the dedup operators are meant to find.
    texts = [" ".join(rng.choice(WORDS, k)) for k in rng.integers(10, 101, n_docs)]
    dup_rows = np.flatnonzero(rng.random(n_docs) < DUP_SHARE)
    originals = np.setdiff1d(np.arange(n_docs), dup_rows)
    for row, src in zip(dup_rows, rng.choice(originals, len(dup_rows))):
        texts[row] = texts[src] + " dup"
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), i64),
            "text": pa.array(texts, s),
            "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P), s),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)], s),
            "n_chars": pa.array([len(t) for t in texts], i64),
        }
    )
    vecs = rng.standard_normal((n_vec, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vec), i64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vec), i32),
        }
    )
    return out


def generate(out_dir: str, seed: int, sf: float) -> str:
    """Write the tables under ``out_dir`` unless a complete set is there."""
    done = os.path.join(out_dir, "_SUCCESS")
    if os.path.exists(done):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    open(done, "w").close()
    return out_dir


if __name__ == "__main__":
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("out_dir")
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--sf", type=float, default=0.01)
    a = p.parse_args()
    print(generate(a.out_dir, a.seed, a.sf))
