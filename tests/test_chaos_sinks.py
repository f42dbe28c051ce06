"""Fault-injection sweeps over every streaming-sink write boundary.

Each exactly-once sink claims crash safety; these tests enforce it by
CRASHING at every write boundary (parametrized via the sinks' ``fault``
hook), replaying the failed epoch the way the engine would, and
asserting the final state equals a clean run's — not merely "no crash".

The webhook sink's two crash windows (replay after publish, stale
publish dir) are covered in test_kafka_plans.py; this file sweeps the
generational sinks (rollup, upsert), the near-dup admission sink, the
quality gate and the PQ index append, and runs each of them against a
``file://`` root from changing working directories.
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from chicago_business_owners_data_engineering_spark.streaming.jobs import (
    foreach_batch_incremental_rollup,
    foreach_batch_neardup_dedup,
    foreach_batch_upsert,
    read_versioned,
)


class Boom(RuntimeError):
    """The injected crash."""


def _fault_at(boundary: str):
    def fault(name: str) -> None:
        if name == boundary:
            raise Boom(boundary)

    return fault


def _ts(h):
    return datetime.datetime(2024, 5, 1, h, 0, 0)


def _event_batches(spark):
    # Overlapping (day, event_type) keys across batches so double-
    # counting a replayed batch is VISIBLE in the sums.
    rows = [
        [(1, _ts(1), 10, "view", 1.0), (2, _ts(2), 11, "click", 2.0)],
        [(3, _ts(3), 10, "view", 4.0), (4, _ts(4), 12, "view", 8.0)],
        [(5, _ts(5), 11, "click", 16.0), (6, _ts(6), 13, "buy", 32.0)],
    ]
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"
    return [spark.createDataFrame(r, schema) for r in rows]


def _canon(df):
    return sorted(tuple(r) for r in df.collect())


GEN_BOUNDARIES = ["pre_publish", "post_data_write", "post_commit", "post_data_gc"]


@pytest.mark.parametrize("boundary", GEN_BOUNDARIES)
def test_rollup_crash_at_every_boundary(spark, tmp_path, boundary):
    batches = _event_batches(spark)

    clean = str(tmp_path / "gold_clean")
    sink = foreach_batch_incremental_rollup(clean)
    for e, b in enumerate(batches):
        sink(b, e)
    expected = _canon(read_versioned(spark, clean))

    chaos = str(tmp_path / "gold_chaos")
    foreach_batch_incremental_rollup(chaos)(batches[0], 0)
    with pytest.raises(Boom):
        foreach_batch_incremental_rollup(chaos, fault=_fault_at(boundary))(
            batches[1], 1
        )
    # The engine replays the failed epoch (same id), then proceeds.
    replay = foreach_batch_incremental_rollup(chaos)
    replay(batches[1], 1)
    replay(batches[2], 2)
    assert _canon(read_versioned(spark, chaos)) == expected
    # Both GC legs hold: data gens AND ledger markers stay bounded
    # (only the merge base and the head survive), so per-batch ledger
    # listings don't grow with stream lifetime.
    import os

    gens = sorted(os.listdir(os.path.join(chaos, "data")))
    marks = sorted(os.listdir(os.path.join(chaos, "_ledger")))
    assert gens == ["gen=1", "gen=2"]
    assert marks == ["epoch=1", "epoch=2"]


@pytest.mark.parametrize("boundary", GEN_BOUNDARIES)
def test_upsert_crash_at_every_boundary(spark, tmp_path, boundary):
    batches = _event_batches(spark)
    keys, ver = ["user_id"], "event_id"

    clean = str(tmp_path / "ups_clean")
    sink = foreach_batch_upsert(clean, keys, ver)
    for e, b in enumerate(batches):
        sink(b, e)
    expected = _canon(read_versioned(spark, clean))

    chaos = str(tmp_path / "ups_chaos")
    foreach_batch_upsert(chaos, keys, ver)(batches[0], 0)
    with pytest.raises(Boom):
        foreach_batch_upsert(chaos, keys, ver, fault=_fault_at(boundary))(
            batches[1], 1
        )
    replay = foreach_batch_upsert(chaos, keys, ver)
    replay(batches[1], 1)
    replay(batches[2], 2)
    assert _canon(read_versioned(spark, chaos)) == expected


def test_rollup_heals_torn_generation_dir(spark, tmp_path):
    """A crash MID gen-write leaves a partial/garbage gen dir with no
    marker; the replay's overwrite must heal it, not read it."""
    batches = _event_batches(spark)
    gold = str(tmp_path / "gold_torn")
    sink = foreach_batch_incremental_rollup(gold)
    sink(batches[0], 0)
    torn = tmp_path / "gold_torn" / "data" / "gen=1"
    torn.mkdir(parents=True)
    (torn / "part-00000-dead.parquet").write_bytes(b"not parquet at all")
    sink(batches[1], 1)
    sink(batches[2], 2)

    clean = str(tmp_path / "gold_torn_clean")
    csink = foreach_batch_incremental_rollup(clean)
    for e, b in enumerate(batches):
        csink(b, e)
    assert _canon(read_versioned(spark, gold)) == _canon(read_versioned(spark, clean))


def test_committed_snapshot_survives_every_crash(spark, tmp_path):
    """At NO boundary is the previously committed snapshot unreadable —
    the window the old overwrite-in-place protocol had."""
    batches = _event_batches(spark)
    gold = str(tmp_path / "gold_window")
    foreach_batch_incremental_rollup(gold)(batches[0], 0)
    committed = _canon(read_versioned(spark, gold))
    # boundaries at/after post_commit have already advanced the snapshot
    for boundary in ["pre_publish", "post_data_write"]:
        with pytest.raises(Boom):
            foreach_batch_incremental_rollup(gold, fault=_fault_at(boundary))(
                batches[1], 1
            )
        assert _canon(read_versioned(spark, gold)) == committed


# ---------------------------------------------------------------------------
# Near-dup admission sink
# ---------------------------------------------------------------------------

_BASE = (
    "alpha beta gamma delta epsilon zeta eta theta iota kappa "
    "lam mu nu xi omicron pi rho sigma tau upsilon"
)
_OTHER = (
    "one two three four five six seven eight nine ten eleven twelve "
    "thirteen fourteen fifteen sixteen"
)
_FRESH = "completely fresh content nothing shared with any prior document at all today"

ND_BOUNDARIES = [
    "pre_publish",
    "post_meta_write",
    "post_bands_write",
    "post_hsets_write",
    "post_commit",
]


def _admitted(spark, index):
    return {
        r.doc_id
        for r in spark.read.parquet(str(index / "hsets")).select("doc_id").collect()
    }


@pytest.mark.parametrize("boundary", ND_BOUNDARIES)
def test_neardup_crash_at_every_boundary(spark, tmp_path, boundary):
    b0 = spark.createDataFrame(
        [(1, _BASE), (2, _OTHER)], "doc_id long, text string"
    )
    # epoch 1: a near-dup of indexed doc 1 + a fresh doc
    b1 = spark.createDataFrame(
        [(10, _BASE + " omega"), (11, _FRESH)], "doc_id long, text string"
    )
    # epoch 2: a near-dup of epoch-1's admitted doc 11 + a fresh doc —
    # proves the replayed epoch's index rows are intact downstream
    b2 = spark.createDataFrame(
        [(20, _FRESH + " extra"), (21, "utterly disjoint vocabulary entirely")],
        "doc_id long, text string",
    )

    index = tmp_path / f"nd_{boundary}"
    foreach_batch_neardup_dedup(str(index))(b0, 0)
    with pytest.raises(Boom):
        foreach_batch_neardup_dedup(str(index), fault=_fault_at(boundary))(b1, 1)
    replay = foreach_batch_neardup_dedup(str(index))
    replay(b1, 1)
    replay(b2, 2)
    assert _admitted(spark, index) == {1, 2, 11, 21}
    # exactly one index row per admitted doc — no replay duplicates
    hsets = spark.read.parquet(str(index / "hsets"))
    assert hsets.count() == hsets.select("doc_id").distinct().count()


# ---------------------------------------------------------------------------
# PQ index append: replay after a committed append but lost marker
# ---------------------------------------------------------------------------


def test_pq_append_replay_after_lost_marker(spark, tmp_path):
    """Crash between the parquet append's job commit and the ledger
    marker: the replayed epoch re-encodes the same vectors, and the SDC
    dedup must drop them all (stored identical codes sit at distance
    0) — the append converges instead of duplicating."""
    import shutil

    import numpy as np
    import pandas as pd

    from chicago_business_owners_data_engineering_spark.plans.vector_pipeline import (
        build_vector_index,
        foreach_batch_index_append,
    )

    sf = "/root/testdata/sf0.001"
    out = str(tmp_path / "vec")
    card = build_vector_index(spark, sf, out)
    import os

    base = spark.read.parquet(os.path.join(out, "pq_index")).count()

    batch = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": [900001],
                "embedding": [np.full(64, 123.0, dtype=np.float32)],
                "label": [99],
            }
        )
    )
    sink = foreach_batch_index_append(out, card["codebook"])
    sink(batch, 0)
    assert spark.read.parquet(os.path.join(out, "pq_index")).count() == base + 1
    # crash window: append committed, marker lost
    shutil.rmtree(os.path.join(out, "_append_ledger"))
    sink(batch, 0)
    assert spark.read.parquet(os.path.join(out, "pq_index")).count() == base + 1


def test_pq_append_unreadable_index_fails_batch(spark, tmp_path):
    """An index read error must fail the batch, never read as "no
    index": otherwise the batch is appended without the SDC dedup check
    and its epoch marker is written, so the replay can't repair it."""
    import os

    import numpy as np
    import pandas as pd

    from chicago_business_owners_data_engineering_spark.operators.similarity import (
        PQ_DSUB,
        PQ_M,
        PQ_NCODES,
    )
    from chicago_business_owners_data_engineering_spark.plans.vector_pipeline import (
        foreach_batch_index_append,
    )

    out = tmp_path / "vec"
    (out / "pq_index").mkdir(parents=True)
    (out / "pq_index" / "part-00000.parquet").write_bytes(b"not a parquet file")
    codebook = [
        [[float(c)] * PQ_DSUB for c in range(PQ_NCODES)] for _ in range(PQ_M)
    ]
    batch = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": [900001],
                "embedding": [np.full(PQ_M * PQ_DSUB, 3.0, dtype=np.float32)],
                "label": [99],
            }
        )
    )
    with pytest.raises(Exception):
        foreach_batch_index_append(str(out), codebook)(batch, 0)
    assert not os.path.exists(out / "_append_ledger" / "epoch=0")


QG_BOUNDARIES = ["pre_publish", "post_data_write", "post_rejects_write", "post_commit"]


@pytest.mark.parametrize("boundary", QG_BOUNDARIES)
def test_quality_gate_crash_at_every_boundary(spark, tmp_path, boundary):
    """Kill the quality gate at EVERY write boundary; after replay the
    admitted/rejected state must equal a clean run's, with no duplicate
    doc rows (the same sweep discipline as the generational sinks)."""
    from chicago_business_owners_data_engineering_spark.streaming.jobs import (
        foreach_batch_quality_gate,
        read_quality_gate,
    )

    docs = spark.createDataFrame(
        [(i, f"tok{i % 7} common words here number {i}") for i in range(40)],
        "doc_id long, text string",
    )
    batches = [docs.filter(F.col("doc_id") < 20), docs.filter(F.col("doc_id") >= 20)]

    clean = str(tmp_path / "qg_clean")
    for e, b in enumerate(batches):
        foreach_batch_quality_gate(clean)(b, e)

    def state(lake):
        adm = read_quality_gate(spark, lake)
        rej = read_quality_gate(spark, lake, rejects=True)
        return (
            sorted(r.doc_id for r in adm.collect()) if adm is not None else [],
            sorted(r.doc_id for r in rej.collect()) if rej is not None else [],
        )

    expected = state(clean)

    chaos = str(tmp_path / "qg_chaos")
    foreach_batch_quality_gate(chaos)(batches[0], 0)
    with pytest.raises(Boom):
        foreach_batch_quality_gate(chaos, fault=_fault_at(boundary))(batches[1], 1)
    replay = foreach_batch_quality_gate(chaos)
    replay(batches[1], 1)
    replay(batches[0], 0)  # committed replay must be a no-op
    got = state(chaos)
    assert got == expected
    assert len(got[0]) == len(set(got[0]))  # no duplicates either side
    assert len(got[1]) == len(set(got[1]))


PQ_BOUNDARIES = ["pre_publish", "post_append_write", "post_commit"]


@pytest.mark.parametrize("boundary", PQ_BOUNDARIES)
def test_pq_append_crash_at_every_boundary(spark, tmp_path, boundary):
    """Kill the online PQ index append at every write boundary; the
    replayed epoch must converge to exactly one appended row (the SDC
    dedup drops the re-encoded duplicates when the crash landed after
    the non-idempotent append)."""
    import os

    import numpy as np
    import pandas as pd

    from chicago_business_owners_data_engineering_spark.plans.vector_pipeline import (
        build_vector_index,
        foreach_batch_index_append,
    )

    sf = "/root/testdata/sf0.001"
    out = str(tmp_path / "vec")
    card = build_vector_index(spark, sf, out)
    base = spark.read.parquet(os.path.join(out, "pq_index")).count()

    batch = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": [900001],
                "embedding": [np.full(64, 123.0, dtype=np.float32)],
                "label": [99],
            }
        )
    )
    with pytest.raises(Boom):
        foreach_batch_index_append(out, card["codebook"], fault=_fault_at(boundary))(
            batch, 0
        )
    sink = foreach_batch_index_append(out, card["codebook"])
    sink(batch, 0)  # replay of the killed epoch
    sink(batch, 0)  # committed replay must be a no-op
    assert spark.read.parquet(os.path.join(out, "pq_index")).count() == base + 1


def test_quality_gate_batch_parity_and_replay(spark, tmp_path):
    """The streaming quality gate admits exactly the docs ml05 labels
    'keep', partitions data/rejects cleanly, survives a crash between
    the data write and the ledger marker (replay rewrites the same
    epoch), and skips fully-committed replays."""
    from chicago_business_owners_data_engineering_spark.operators.clustering import (
        FT_KEEP_MICRO,
        fasttext_scores,
    )
    from chicago_business_owners_data_engineering_spark.streaming.jobs import (
        foreach_batch_quality_gate,
        read_quality_gate,
    )

    docs = spark.createDataFrame(
        [(i, f"tok{i % 7} common words here number {i}") for i in range(40)],
        "doc_id long, text string",
    )
    lake = str(tmp_path / "gate")
    sink = foreach_batch_quality_gate(lake)

    # epoch 0: clean run
    sink(docs.filter(F.col("doc_id") < 20), 0)
    # epoch 1: crash AFTER the data write, BEFORE the marker — simulate
    # by running the sink, then deleting the marker (state as-if the
    # crash hit between steps), then replaying.
    sink(docs.filter(F.col("doc_id") >= 20), 1)
    import shutil

    shutil.rmtree(str(tmp_path / "gate" / "_ledger" / "epoch=1"))
    sink(docs.filter(F.col("doc_id") >= 20), 1)  # replay heals
    # committed replay of epoch 0 must be a no-op (no duplicate rows)
    sink(docs.filter(F.col("doc_id") < 20), 0)

    admitted = read_quality_gate(spark, lake)
    rejected = read_quality_gate(spark, lake, rejects=True)
    n_adm = admitted.count() if admitted is not None else 0
    n_rej = rejected.count() if rejected is not None else 0
    assert n_adm + n_rej == 40
    if admitted is not None:
        ids = [r.doc_id for r in admitted.select("doc_id").collect()]
        assert len(ids) == len(set(ids))  # no replay duplicates
    # parity with the batch scorer
    expect_keep = {
        r.doc_id
        for r in fasttext_scores(docs).filter(
            F.col("score_micro") >= FT_KEEP_MICRO
        ).collect()
    }
    got_keep = (
        {r.doc_id for r in admitted.select("doc_id").collect()}
        if admitted is not None
        else set()
    )
    assert got_keep == expect_keep


# ---------------------------------------------------------------------------
# URI roots: every sink keeps its ledger on the sink's own store
# ---------------------------------------------------------------------------


@pytest.fixture
def run_across_cwds(tmp_path, monkeypatch):
    """A runner that feeds ``batches`` to ``sink`` as epochs 0, 1, ...,
    switching the working directory between two directories on every
    epoch, and then checks neither gained a ``file:`` tree (where
    driver-local path calls put a URI root's files)."""
    dirs = [tmp_path / "cwd_a", tmp_path / "cwd_b"]
    for d in dirs:
        d.mkdir()

    def run(sink, batches) -> None:
        for e, b in enumerate(batches):
            monkeypatch.chdir(dirs[e % 2])
            sink(b, e)
        for d in dirs:
            assert not [p for p in d.iterdir() if p.name.startswith("file:")]

    return run


@pytest.mark.parametrize("kind", ["rollup", "upsert"])
def test_generational_sink_on_uri_root(spark, tmp_path, run_across_cwds, kind):
    def make(root):
        if kind == "rollup":
            return foreach_batch_incremental_rollup(root)
        return foreach_batch_upsert(root, ["user_id"], "event_id")

    batches = _event_batches(spark)
    plain = str(tmp_path / "plain")
    run_across_cwds(make(plain), batches)
    root = tmp_path / "uri"
    run_across_cwds(make(root.as_uri()), batches)
    assert _canon(read_versioned(spark, root.as_uri())) == _canon(
        read_versioned(spark, plain)
    )
    assert sorted(p.name for p in (root / "_ledger").iterdir()) == ["epoch=1", "epoch=2"]


def test_quality_gate_on_uri_root(spark, tmp_path, run_across_cwds):
    from chicago_business_owners_data_engineering_spark.streaming.jobs import (
        foreach_batch_quality_gate,
        read_quality_gate,
    )

    docs = spark.createDataFrame(
        [(i, f"tok{i % 7} common words here number {i}") for i in range(40)],
        "doc_id long, text string",
    )
    batches = [docs.filter(F.col("doc_id") < 20), docs.filter(F.col("doc_id") >= 20)]
    plain = str(tmp_path / "plain")
    run_across_cwds(foreach_batch_quality_gate(plain), batches)
    root = tmp_path / "uri"
    run_across_cwds(foreach_batch_quality_gate(root.as_uri()), batches)
    got = read_quality_gate(spark, root.as_uri())
    assert got is not None
    assert _canon(got.select("doc_id")) == _canon(
        read_quality_gate(spark, plain).select("doc_id")
    )
    assert (root / "_ledger" / "epoch=1").is_dir()


def test_neardup_on_uri_root(spark, tmp_path, run_across_cwds):
    b0 = spark.createDataFrame([(1, _BASE), (2, _OTHER)], "doc_id long, text string")
    b1 = spark.createDataFrame(
        [(10, _BASE + " omega"), (11, _FRESH)], "doc_id long, text string"
    )
    root = tmp_path / "nd"
    run_across_cwds(foreach_batch_neardup_dedup(root.as_uri()), [b0, b1])
    assert _admitted(spark, root) == {1, 2, 11}
    assert (root / "_ledger" / "epoch=1").is_dir()


def test_pq_append_on_uri_root(spark, tmp_path, sf_dir, run_across_cwds):
    """Exact copies of indexed vectors (new ids) are SDC-deduped, so
    appending them from any working directory leaves the index size
    unchanged."""
    from chicago_business_owners_data_engineering_spark.plans.vector_pipeline import (
        build_vector_index,
        foreach_batch_index_append,
    )

    root = tmp_path / "vec"
    card = build_vector_index(spark, sf_dir, root.as_uri())
    index = str(root / "pq_index")
    base = spark.read.parquet(index).count()
    copies = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .join(spark.read.parquet(index).select("vec_id"), "vec_id", "left_semi")
        .orderBy("vec_id")
        .limit(2)
        .select((F.col("vec_id") + 900000).alias("vec_id"), "embedding", "label")
    )
    sink = foreach_batch_index_append(root.as_uri(), card["codebook"])
    run_across_cwds(sink, [copies, copies])
    assert spark.read.parquet(index).count() == base
    assert (root / "_append_ledger" / "epoch=1").is_dir()
