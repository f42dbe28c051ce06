"""Structured Streaming jobs (SURVEY.md §2.9, ST1–ST8).

The reference's "streaming" is a hand-rolled poll loop with a Redis
offset cursor (cbddl/src/big_data/streaming_processor.py:84-228,
380-412). Here each piece becomes its engine-native equivalent:

- poll cadence (ST1)  → ``trigger(processingTime=...)`` /
  ``maxFilesPerTrigger`` rate-limited file source;
- offset cursor (ST2) → ``checkpointLocation`` (engine-managed, exactly
  -once per sink where the sink supports it);
- per-event enrichment (ST3) → stateless select/withColumn;
- per-entity scores (ST4)    → streaming groupBy aggregation, update mode;
- multi-sink fanout (ST5)    → ``foreachBatch`` writing several sinks in
  one transaction scope;
- error routing (ST6)        → validity flag + split writes in
  foreachBatch (dead-letter path);
- monitoring (ST7)           → ``ProgressMonitor`` (StreamingQueryListener);
- watermarked event-time windows (ST8 — absent in the reference, the
  idiomatic upgrade) → ``withWatermark + window()``.

Kafka source/sink (S11/S12) are code-complete below but require a
broker + the kafka connector jar; they are exercised only as plan
construction in tests.
"""

from __future__ import annotations

import operator
import posixpath

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.lake import _fs, _keyed_dirs

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

PROPS_SCHEMA = T.StructType([T.StructField("k", T.IntegerType())])


def read_event_stream(
    spark: SparkSession, events_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-drop micro-batch source (ST1; the S14/S15 poll sources map
    here — each poll's result lands as a file, the engine tracks offsets)."""
    return (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(events_dir)
    )


def enrich_events(stream: DataFrame) -> DataFrame:
    """ST3 stateless enrichment: type class, size class, decoded props.

    Mirrors the per-event analytics of streaming_processor.py:230-307
    (owner_type / name_length / role_category / is_leadership) as pure
    column expressions.
    """
    return stream.select(
        "*",
        F.from_json("props", PROPS_SCHEMA).alias("props_struct"),
        F.when(F.col("event_type").isin("purchase", "signup"), "conversion")
        .when(F.col("event_type") == "error", "failure")
        .otherwise("engagement")
        .alias("event_class"),
        (F.col("value") > 100).alias("is_big"),
        F.least(F.col("value") / 10.0, F.lit(10.0)).alias("capped_score"),
    ).withColumn("prop_k", F.col("props_struct").getField("k")).drop("props_struct")


def windowed_user_stats(stream: DataFrame) -> DataFrame:
    """ST4+ST8: watermarked tumbling-window per-type aggregates.

    The idiomatic upgrade of the reference's per-entity running scores:
    event-time windows with late-data tolerance, incremental state in
    the engine (no Redis).
    """
    return (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "6 hours").alias("win"), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
            F.approx_count_distinct("user_id").alias("approx_users"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
            "approx_users",
        )
    )


def sessionized_user_stats(stream: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """ST8+: per-user session windows with an inactivity gap.

    ``session_window`` closes a session when no event arrives within
    ``gap`` of the last one — the streaming twin of the batch
    sessionization query (operators/pipeline_ml.py st01). State is
    engine-managed and bounded by the watermark: sessions older than
    the watermark finalize and evict.
    """
    return (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", gap).alias("sess"), F.col("user_id"))
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("total_value"))
        .select(
            F.col("sess.start").alias("session_start"),
            F.col("sess.end").alias("session_end"),
            "user_id",
            "n_events",
            "total_value",
        )
    )


STATE_SCHEMA = "n_events long, total_value double"
RUNNING_SCHEMA = "user_id long, n_events long, total_value double"


def stateful_running_totals(stream: DataFrame) -> DataFrame:
    """ST4 as a custom stateful operator: per-user running totals via
    ``applyInPandasWithState``.

    The escape hatch for state machines the built-in aggregates can't
    express (the reference's per-entity complexity/diversity scores,
    streaming_processor.py:260-283, generalize to arbitrary Python
    state). State is a single (count, total) row per user_id, stored in
    the engine's state store (checkpointed, partitioned by key);
    batches stream through Arrow, one group per call.
    """
    import pandas as pd  # local import: Arrow worker-side dependency

    def update(key, pdf_iter, state):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdf_iter:
            n += len(pdf)
            total += float(pdf["value"].fillna(0.0).sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 4)]}
        )

    return stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=RUNNING_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf="NoTimeout",
    )


def run_batched_stream_to_memory(
    spark: SparkSession,
    events_dir: str,
    checkpoint_dir: str,
    query_name: str = "stream_out",
) -> DataFrame:
    """Drive the full enrich→window pipeline over a file drop to a
    memory sink, synchronously (the harness-testable ST1→ST8 slice)."""
    stream = enrich_events(read_event_stream(spark, events_dir))
    agg = windowed_user_stats(stream)
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.sql(f"SELECT * FROM {query_name}")


def foreach_batch_multi_sink(parquet_out: str, dead_letter_out: str):
    """ST5/ST6: one foreachBatch writing good rows to the lake and
    invalid rows to a dead-letter path — the Redis/Kafka/DB fanout
    (streaming_processor.py:194-228,309-378) with engine checkpoints
    replacing per-sink cursors."""

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        # The negation, not batch_df.subtract(valid): subtract is EXCEPT
        # DISTINCT, which collapses identical rejected rows (and costs
        # an all-column shuffle). ``ok`` is never NULL, so every row
        # lands on exactly one side.
        ok = F.col("value").isNotNull() & (F.col("value") >= 0)
        valid, invalid = batch_df.filter(ok), batch_df.filter(~ok)
        valid.write.mode("append").parquet(parquet_out)
        if invalid.take(1):
            invalid.withColumn("epoch", F.lit(epoch_id)).write.mode("append").parquet(
                dead_letter_out
            )

    return sink


class TTLCache:
    """Driver-side key-value cache with per-entry expiry (S13's shape).

    Stands in for the reference's Redis ``setex(key, 3600, json)``
    (streaming_processor.py:309-329): same contract — set with TTL,
    get returns None past expiry, writes refresh the clock. The
    ``now`` callable is injectable so tests control time. In
    production this is a Redis client inside the same foreachBatch;
    the cache is a side output, never the system of record (the lake
    write in the same batch is)."""

    def __init__(self, ttl_s: float, now=None):
        import time as _time

        self.ttl_s = ttl_s
        self._now = now or _time.monotonic
        self._data: dict = {}

    def set(self, key, value) -> None:
        self._data[key] = (value, self._now() + self.ttl_s)

    def get(self, key):
        hit = self._data.get(key)
        if hit is None:
            return None
        value, expires_at = hit
        if self._now() >= expires_at:
            del self._data[key]
            return None
        return value

    def sweep(self) -> int:
        """Evict every expired entry; returns surviving count."""
        now = self._now()
        self._data = {k: v for k, v in self._data.items() if v[1] > now}
        return len(self._data)


def foreach_batch_cache_latest(cache: TTLCache, key_col: str = "user_id"):
    """ST5/S13: cache each key's LATEST event per micro-batch with TTL.

    The per-key reduction happens in Spark (max_by over ts — one small
    shuffle per batch); only the reduced rows cross to the driver, so
    the cache write is O(distinct keys), not O(events). This mirrors
    the reference's \"hot entity state in Redis for the API layer\"
    pattern with engine-side aggregation replacing its per-event
    round-trips."""

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        latest = (
            batch_df.groupBy(key_col)
            .agg(F.max_by(F.struct("ts", "event_type", "value"), F.col("ts")).alias("s"))
            .select(key_col, "s.ts", "s.event_type", "s.value")
        )
        for row in latest.toLocalIterator():
            cache.set(row[key_col], row.asDict())

    return sink


def kafka_sink_options(brokers: str, topic: str) -> dict[str, str]:
    """The exact option map the kafka sink needs — split out so tests
    can pin it without a broker (a typo'd option key otherwise fails
    only at runtime, against live infrastructure)."""
    return {"kafka.bootstrap.servers": brokers, "topic": topic}


def kafka_source_options(brokers: str, topic: str) -> dict[str, str]:
    """Option map for the kafka source (subscribe mode)."""
    return {"kafka.bootstrap.servers": brokers, "subscribe": topic}


# to_json's DEFAULT timestamp formats truncate to milliseconds —
# microsecond event times silently lose precision on the wire (caught
# by the round-trip test). Pin a micros format on BOTH directions, for
# BOTH timestamp kinds: parquet event times arrive as TIMESTAMP_NTZ
# (which to_json formats via timestampNTZFormat, silently ignoring
# timestampFormat), while EVENT_SCHEMA decodes to TIMESTAMP_LTZ. The
# wire format is offset-free wall-clock micros; the session is pinned
# UTC, so LTZ values render and parse as the same instant.
_WIRE_TS_FORMAT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"
_WIRE_JSON_OPTS = {
    "timestampFormat": _WIRE_TS_FORMAT,
    "timestampNTZFormat": _WIRE_TS_FORMAT,
}


def kafka_payload(df: DataFrame) -> DataFrame:
    """The kafka wire projection: (key string, value string).

    key = event key, value = full-row JSON — the reference's
    ``producer.send(topic, key, json)`` (streaming_processor.py:331-352).
    Split from the sink plan so the payload schema and its JSON
    round-trip (to_json → from_json(EVENT_SCHEMA) is lossless) are
    testable against any micro-batch, broker or not.
    """
    return df.select(
        F.col("event_id").cast("string").alias("key"),
        F.to_json(F.struct("*"), _WIRE_JSON_OPTS).alias("value"),
    )


def decode_kafka_value(raw: DataFrame) -> DataFrame:
    """JSON-decode the kafka ``value`` column to typed event columns.

    Works on anything shaped like the kafka wire schema (``value``
    binary or string) — the unit-testable half of the source plan.
    """
    return raw.select(
        F.from_json(
            F.col("value").cast("string"), EVENT_SCHEMA, _WIRE_JSON_OPTS
        ).alias("e")
    ).select("e.*")


def kafka_sink_plan(df: DataFrame, brokers: str, topic: str):
    """S11 Kafka sink plan (requires the kafka connector jar + broker)."""
    writer = kafka_payload(df).writeStream.format("kafka")
    for k, v in kafka_sink_options(brokers, topic).items():
        writer = writer.option(k, v)
    return writer


def kafka_source_plan(spark: SparkSession, brokers: str, topic: str) -> DataFrame:
    """S12 Kafka source plan: subscribe + JSON-decode to typed columns."""
    reader = spark.readStream.format("kafka")
    for k, v in kafka_source_options(brokers, topic).items():
        reader = reader.option(k, v)
    return decode_kafka_value(reader.load())


# ---------------------------------------------------------------------------
# Exactly-once sinks: one epoch ledger, one publish runner.
#
# Every exactly-once foreachBatch sink below (rollup, upsert, near-dup
# admission, quality gate, and the PQ index append in
# plans/vector_pipeline.py) keeps only its own logic — compute the
# epoch's relations, return its ordered writes — and hands them to
# exactly_once_sink, which owns the commit protocol against an
# EpochLedger.
#
# Merge sinks add the generational snapshot protocol on top. A sink
# that merges each micro-batch into a stored table CANNOT overwrite the
# table in place: Spark's overwrite deletes the target before writing,
# so a crash mid-overwrite destroys the table AND the in-flight batch,
# and a crash after the overwrite but before any commit record makes
# non-idempotent merges (SUM partials) double-count on replay — the
# replay merges the batch into a table that already contains it. The
# fix is MVCC-shaped:
#
#   1. base   = data/gen=<last COMMITTED epoch>   (ledger decides)
#   2. merged = merge(base, batch)
#   3. write  data/gen=<epoch> with overwrite      (idempotent replay)
#   4. mkdir  _ledger/epoch=<epoch>                (the commit point)
#   5. GC generations and markers older than the merge base
#
# A crash at ANY boundary replays into: read the same committed base,
# rewrite the same gen dir (overwrite heals torn files), re-commit.
# Exactly-once for arbitrary merge functions, with no window in which
# the committed snapshot is unreadable. Readers resolve the table via
# read_versioned() — the latest COMMITTED generation — so they never
# observe a half-written snapshot either.
# ---------------------------------------------------------------------------


class EpochLedger:
    """The commit record of an exactly-once sink rooted at ``root``: one
    ``<root>/<name>/epoch=N`` directory per committed epoch.

    All of a sink's existence, listing, marker and delete operations go
    through the Hadoop FileSystem API (``sources.lake._fs``), so the
    ledger lives on the same store as the data it commits — a plain
    path, ``file://``, ``hdfs://`` or ``s3a://`` root alike — and never
    on the driver's local disk or relative to its working directory.
    """

    def __init__(self, spark: SparkSession, root: str, name: str = "_ledger") -> None:
        self.spark = spark
        self.root = root
        self.dir = posixpath.join(root, name)

    def path(self, *parts: str) -> str:
        return posixpath.join(self.root, *parts)

    def exists(self, path: str) -> bool:
        fs, p = _fs(self.spark, path)
        return fs.exists(p)

    def epochs(self) -> list[int]:
        """Committed epochs, ascending."""
        return sorted(int(v) for v in _keyed_dirs(self.spark, self.dir, "epoch"))

    def committed(self, epoch_id: int) -> bool:
        return self.exists(posixpath.join(self.dir, f"epoch={epoch_id}"))

    def commit(self, epoch_id: int) -> None:
        fs, p = _fs(self.spark, posixpath.join(self.dir, f"epoch={epoch_id}"))
        fs.mkdirs(p)

    def drop_below(self, path: str, key: str, bound: int) -> None:
        """Delete every ``key=N`` directory under ``path`` with N < bound."""
        for v in _keyed_dirs(self.spark, path, key):
            if int(v) < bound:
                fs, p = _fs(self.spark, posixpath.join(path, f"{key}={v}"))
                fs.delete(p, True)


def exactly_once_sink(root: str, plan, fault=None, ledger: str = "_ledger"):
    """The publish runner behind every exactly-once sink.

    ``plan(batch_df, epoch_id, ledger)`` is the sink's own logic: it
    builds the epoch's relations and returns ``(writes, gc)``, two lists
    of ``(boundary, step)``. An epoch the ledger already holds (a
    replay) is skipped before ``plan`` runs. Otherwise the runner
    crosses ``pre_publish``, runs each write and crosses its boundary,
    commits the epoch, crosses ``post_commit``, then runs each
    after-commit GC step and crosses its boundary.

    ``fault`` is the chaos-test hook: it is called with the name of each
    boundary as it is crossed, and may raise to simulate a crash exactly
    there. Production callers leave it None; the fault-injection tests
    sweep every boundary and assert replay converges to the
    exactly-once state.
    """
    cross = fault or (lambda boundary: None)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        led = EpochLedger(batch_df.sparkSession, root, ledger)
        if led.committed(epoch_id):
            return  # fully committed replay: skip
        writes, gc = plan(batch_df, epoch_id, led)
        cross("pre_publish")
        for boundary, write in writes:
            write()
            cross(boundary)
        led.commit(epoch_id)
        cross("post_commit")
        for boundary, step in gc:
            step()
            cross(boundary)

    return sink


def read_versioned(spark: SparkSession, root: str) -> DataFrame | None:
    """Latest committed snapshot of a generational sink table (or None)."""
    ledger = EpochLedger(spark, root)
    committed = ledger.epochs()
    if not committed:
        return None
    return spark.read.parquet(ledger.path("data", f"gen={committed[-1]}"))


def _generational_sink(root: str, merge, fault=None):
    """Steps 1-5 of the generational protocol for
    ``merge(base, batch_df)``; ``base`` is None before the first commit."""

    def plan(batch_df: DataFrame, epoch_id: int, ledger: EpochLedger):
        data_dir = ledger.path("data")
        base_gen = max((e for e in ledger.epochs() if e < epoch_id), default=None)
        base = None
        if base_gen is not None:
            base = batch_df.sparkSession.read.parquet(
                posixpath.join(data_dir, f"gen={base_gen}")
            )
        merged = merge(base, batch_df)

        def collect_garbage() -> None:
            # Generations strictly older than the merge base are dead —
            # no replay can ever need them (replays of this epoch
            # re-read base_gen; later epochs read this one). base_gen
            # itself stays one cycle for in-flight readers that resolved
            # it just before the commit. Ledger markers mirror the data
            # GC, or the per-batch committed-set listing grows without
            # bound: base selection is "max committed < epoch", so a
            # marker below base_gen can never be chosen again.
            if base_gen is not None:
                ledger.drop_below(data_dir, "gen", base_gen)
                ledger.drop_below(ledger.dir, "epoch", base_gen)

        def write() -> None:
            merged.write.mode("overwrite").parquet(
                posixpath.join(data_dir, f"gen={epoch_id}")
            )

        return [("post_data_write", write)], [("post_data_gc", collect_garbage)]

    return exactly_once_sink(root, plan, fault)


def foreach_batch_upsert(lake_path: str, keys: list[str], version_col: str, fault=None):
    """ST5 upsert sink: latest-wins MERGE of each micro-batch into a
    parquet table (the reference's per-event DB upsert,
    streaming_processor.py:354-378, as a set-based batch merge).

    Exactly-once under at-least-once redelivery via the generational
    snapshot protocol (see above): latest-wins merge is idempotent, so
    the ledger here mainly guards the crash-mid-publish window — the
    committed snapshot is never deleted before its replacement commits.
    Read the table with ``read_versioned(spark, lake_path)``.
    """
    from ..plans.warehouse import upsert_by_key

    def merge(base: DataFrame | None, batch_df: DataFrame) -> DataFrame:
        return upsert_by_key(
            base if base is not None else batch_df.limit(0),
            batch_df,
            keys,
            version_col,
        )

    return _generational_sink(lake_path, merge, fault)


def events_enriched_with_dim(stream: DataFrame, user_dim: DataFrame) -> DataFrame:
    """Stream-STATIC join: enrich each micro-batch with a dimension table.

    The most common production streaming join — events against a slowly
    changing user/account dimension — and a different animal from the
    stream-stream interval join (purchases_joined_with_errors): the
    static side needs no watermark and holds no state; Spark simply
    re-plans the batch side into every micro-batch, broadcast when
    small. Left join keeps unmatched events flowing (dimension lag must
    not drop facts). The reference's per-event Redis lookup
    (streaming_processor.py:309-329) is this join, done a row at a
    time.
    """
    return stream.join(F.broadcast(user_dim), "user_id", "left")


def dedup_within_watermark(stream: DataFrame) -> DataFrame:
    """Streaming exactly-once-ish dedup: drop event_id duplicates that
    arrive within the watermark horizon.

    At-least-once sources redeliver; ``dropDuplicatesWithinWatermark``
    keeps the dedup state bounded (keys older than the watermark are
    evicted) — the engine-native form of the reference's upsert-based
    dedup (streaming_processor.py:354-378) that never grows state
    without bound.
    """
    return stream.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(["event_id"])


def purchases_joined_with_errors(stream: DataFrame, window: str = "30 minutes") -> DataFrame:
    """Stream-stream self-join: purchases matched to errors by the same
    user within ±``window``.

    Both sides are watermarked and the join condition carries the time
    bound, so each side's state buffers only the window horizon — the
    canonical funnel/correlation join (reference has no analog; its
    per-event loop can't see across events).
    """
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    errors = (
        stream.filter(F.col("event_type") == "error")
        .select(
            F.col("user_id").alias("e_user"),
            F.col("event_id").alias("error_id"),
            F.col("ts").alias("e_ts"),
        )
        .withWatermark("e_ts", "1 hour")
    )
    return purchases.join(
        errors,
        (F.col("p_user") == F.col("e_user"))
        & (F.col("e_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {window}"))
        & (F.col("e_ts") <= F.col("p_ts") + F.expr(f"INTERVAL {window}")),
    ).select("p_user", "purchase_id", "error_id", "p_ts", "e_ts")


class ProgressMonitor:
    """ST7 monitoring as an engine feature: a ``StreamingQueryListener``
    that accumulates per-batch throughput and latency.

    The reference polls its own counters into Prometheus
    (cbddl/src/monitoring/pipeline_monitor.py:152-207, events/min and
    error rates via SQL over a metrics table); Structured Streaming
    already emits the same facts on every micro-batch — this listener
    collects them driver-side with zero query overhead (callbacks run
    on the listener bus, off the execution path).

    Use::

        mon = ProgressMonitor.attach(spark)
        ... run queries ...
        mon.summary()   # {'n_batches', 'total_input_rows',
                        #  'avg_batch_duration_ms', 'max_batch_duration_ms'}
        mon.detach(spark)
    """

    def __init__(self) -> None:
        self.batches: list[dict] = []
        self._listener = None

    @classmethod
    def attach(cls, spark: SparkSession) -> "ProgressMonitor":
        from pyspark.sql.streaming import StreamingQueryListener

        mon = cls()

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event) -> None:  # noqa: N802
                pass

            def onQueryProgress(self, event) -> None:  # noqa: N802
                p = event.progress
                mon.batches.append(
                    {
                        "query_name": p.name,
                        "batch_id": p.batchId,
                        "num_input_rows": p.numInputRows,
                        "duration_ms": (p.durationMs or {}).get("triggerExecution"),
                    }
                )

            def onQueryIdle(self, event) -> None:  # noqa: N802
                pass

            def onQueryTerminated(self, event) -> None:  # noqa: N802
                pass

        mon._listener = _Listener()
        spark.streams.addListener(mon._listener)
        return mon

    def detach(self, spark: SparkSession) -> None:
        if self._listener is not None:
            spark.streams.removeListener(self._listener)
            self._listener = None

    def summary(self) -> dict:
        rows = [b for b in self.batches if b["num_input_rows"]]
        durs = [b["duration_ms"] for b in self.batches if b["duration_ms"] is not None]
        return {
            "n_batches": len(self.batches),
            "total_input_rows": sum(b["num_input_rows"] for b in rows),
            "avg_batch_duration_ms": (sum(durs) / len(durs)) if durs else None,
            "max_batch_duration_ms": max(durs) if durs else None,
        }


def stateful_user_counters_tws(stream: DataFrame) -> DataFrame:
    """ST4 on the modern stateful API: ``transformWithStateInPandas``.

    The successor to applyInPandasWithState (kept above as the widely
    deployed form): typed per-key state handles (ValueState here;
    ListState/MapState for richer shapes), explicit time modes for
    timers/TTL, and the RocksDB state store underneath — the pieces a
    100 TB keyed-state deployment actually runs on, where state spills
    beyond executor memory. Requires
    ``spark.sql.streaming.stateStore.providerClass`` =
    RocksDBStateStoreProvider, and the ``protobuf`` package (the
    operator's Python↔JVM state-server protocol) — absent from this
    container, so the test suite skips execution and this stays
    plan-complete like the Kafka bindings; applyInPandasWithState
    (above) is the executable stateful path here.
    """
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class UserCounter(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._count = handle.getValueState("n_events", "n long")
            self._total = handle.getValueState("total_value", "v double")

        def handleInputRows(self, key, rows, timerValues):  # noqa: N802
            n = self._count.get()[0] if self._count.exists() else 0
            t = self._total.get()[0] if self._total.exists() else 0.0
            for pdf in rows:
                n += len(pdf)
                t += float(pdf["value"].fillna(0.0).sum())
            self._count.update((n,))
            self._total.update((t,))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "total_value": [round(t, 4)]}
            )

        def close(self) -> None:
            pass

    return stream.groupBy("user_id").transformWithStateInPandas(
        UserCounter(),
        outputStructType="user_id long, n_events long, total_value double",
        outputMode="Update",
        timeMode="None",
    )


# ---------------------------------------------------------------------------
# State store provider (scale posture for large streaming state)

ROCKSDB_STATE_CONFIG = {
    # Off-heap, disk-backed state: streaming aggregation state at 100 TB
    # (millions of windows x users) outgrows the default in-memory
    # HDFSBackedStateStore; RocksDB keeps state on local SSD with an
    # in-memory working set.
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    ),
    # Changelog checkpointing ships per-batch deltas to the checkpoint
    # location instead of full snapshots — turns checkpoint cost from
    # O(state size) into O(batch updates).
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
}


class rocksdb_state:
    """Context manager applying ROCKSDB_STATE_CONFIG for queries started
    inside it, restoring the previous session values on exit.

    The provider is a per-query setting captured at query START from the
    session conf and pinned into the query's checkpoint thereafter, so
    scoping it this way is exact: queries started in the block run on
    RocksDB; concurrent queries already running are untouched.
    """

    def __init__(self, spark: SparkSession) -> None:
        self.spark = spark
        self._saved: dict[str, str | None] = {}

    def __enter__(self) -> "rocksdb_state":
        for k, v in ROCKSDB_STATE_CONFIG.items():
            self._saved[k] = self.spark.conf.get(k, None)
            self.spark.conf.set(k, v)
        return self

    def __exit__(self, *exc) -> None:
        for k, old in self._saved.items():
            if old is None:
                self.spark.conf.unset(k)
            else:
                self.spark.conf.set(k, old)


def foreach_batch_incremental_rollup(gold_path: str, fault=None):
    """Streaming maintenance of a mergeable-partials gold table.

    The streaming twin of inc01 (operators/incremental.py): each
    micro-batch reduces to per-key partial aggregates (sum/count —
    algebraic, mergeable state), which are merged into the stored gold
    parquet with one groupBy over O(|gold| + |batch-partials|) rows —
    the incremental form of the reference's per-batch agg-table rebuild
    (cbddl/src/etl/pipeline.py:479-565).

    Exactly-once under micro-batch replay via the generational snapshot
    protocol (see exactly_once_sink above). SUM merges are NOT
    naturally idempotent — merging a batch into a table that already
    contains it double-counts — so the merge BASE must be the last
    COMMITTED generation, never "whatever is at the data path": a crash
    after publish but before the ledger marker replays against the same
    pre-batch base and rewrites the same generation, not against its
    own output. Read the gold table with
    ``read_versioned(spark, gold_path)``.
    """

    def merge(base: DataFrame | None, batch_df: DataFrame) -> DataFrame:
        partials = batch_df.groupBy(
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
            F.col("event_type"),
        ).agg(
            F.sum("value").alias("sum_value"),
            F.count("*").alias("n_events"),
        )
        merged = base.unionByName(partials) if base is not None else partials
        return merged.groupBy("day", "event_type").agg(
            F.sum("sum_value").alias("sum_value"),
            F.sum("n_events").alias("n_events"),
        )

    return _generational_sink(gold_path, merge, fault)


def foreach_batch_neardup_dedup(
    index_path: str,
    threshold: float = 0.5,
    num_hashes: int = 32,
    band_size: int = 2,
    max_driver_pairs: int = 100_000,
    fault=None,
):
    """Streaming near-dup admission control: the online twin of dd04→dd07.

    Each micro-batch of (doc_id, text) is admitted only if it is NOT a
    near-duplicate (shingle Jaccard ≥ ``threshold``) of (i) any
    previously admitted document or (ii) any smaller-id document in the
    same batch that itself passed (i). Admitted docs append their LSH
    relations to the stored index; dropped docs never enter it. This is
    how a training-data ingest keeps a corpus near-dup-free WITHOUT
    re-running corpus-wide dedup per delivery — per batch the work is
    batch-sized probes against bucket-matched index rows, never a scan
    of the corpus text (the index stores only band keys + hashed token
    sets — raw text is not needed for verification, same trick as the
    vector pipeline's stored-codes SDC dedup).

    Candidate generation broadcasts the (small) batch band keys onto
    the partitioned index relation; verification joins hashed token
    sets and applies the exact Jaccard — LSH tuning affects recall
    only, precision is exact (same contract as neardup_edges).

    Within-batch rule: a doc is dropped iff it directly matches a
    smaller-id doc that was itself ADMITTED — so in a chain A~B, B~C
    with A≁C, doc C survives because its only blocker B was dropped.
    Every drop stays justified by a concrete surviving near-duplicate
    (unlike dd06's component closure, which would drop C transitively);
    the sequential pass runs on the driver over the collected verified
    PAIRS, sized by within-batch near-dup count. A dup-storm batch
    whose pair count exceeds ``max_driver_pairs`` falls back to the
    fully distributed one-shot rule (drop any doc matching a smaller
    survivor) — conservatively over-dropping chain tails is the bounded
    failure mode; a driver OOM is not.

    Exactly-once under micro-batch replay: each epoch publishes into
    its own ``epoch=N`` partition with overwrite semantics (idempotent
    even against a crash mid-publish), and the epoch ledger
    short-circuits fully committed replays (exactly_once_sink, like
    every sink here). The index probe reads only when
    BOTH relations exist (a bands-only tree is a torn current-epoch
    publish, whose rows the epoch filter excludes anyway) and records
    its parameters in ``_meta.json`` ONCE, on first publish — resuming
    with a different stored band format (num_hashes, band_size) raises
    instead of silently probing an incompatible index, while threshold
    retuning (verification-only, not part of the stored format) is
    allowed. Writing meta only while the index is empty means a torn
    meta write is always healable by replay; an every-epoch rewrite
    would reopen the torn window over a data-bearing index, where the
    unreadable-meta guard wedges the stream.
    """
    import json as _json

    BANDS_SCHEMA = "doc_id long, band_id int, band_hash long, epoch int"
    HSETS_SCHEMA = "doc_id long, hset array<bigint>, epoch int"

    def plan(batch_df: DataFrame, epoch_id: int, ledger: EpochLedger):
        spark = batch_df.sparkSession
        # Parameter pinning: the stored band format is defined by
        # (num_hashes, band_size); probing an index built with other
        # parameters matches nothing and silently admits near-dups.
        # An empty/unparsable meta (a crash mid-meta-write, which in
        # the publish order precedes any data) is treated as absent;
        # absent meta over a NONEMPTY index refuses — an index that
        # predates the meta file (or lost it) has an unknown format and
        # must be confirmed by writing the meta back by hand.
        meta_path = posixpath.join(index_path, "_meta.json")
        meta = {
            "format": 1,
            "num_hashes": num_hashes,
            "band_size": band_size,
            "threshold": threshold,
        }
        stored = None
        if ledger.exists(meta_path):
            txt = "\n".join(
                r.value for r in spark.read.text(meta_path).collect()
            ).strip()
            stored = _json.loads(txt) if txt else None
        if stored is not None:
            # The STORED band format is (num_hashes, band_size) — those
            # must match or probing matches nothing and silently admits
            # near-dups. threshold only affects candidate VERIFICATION,
            # so retuning it on an existing index is legitimate and
            # must not be rejected as a format mismatch.
            fmt_keys = ("format", "num_hashes", "band_size")
            stored_fmt = {k: stored.get(k) for k in fmt_keys}
            want_fmt = {k: meta[k] for k in fmt_keys}
            if stored_fmt != want_fmt:
                raise ValueError(
                    f"near-dup index at {index_path} was built with "
                    f"{stored_fmt}; sink configured with {want_fmt} — "
                    "refusing to probe an incompatible band format"
                )
        from ..operators.dedup import (
            _shingle_set,
            bucket_pairs,
            jaccard_verify,
            minhash_index_rows,
        )
        docs = batch_df.select(
            "doc_id", _shingle_set(F.col("text")).alias("sh")
        )
        # 32 hashes in 16 bands of 2 — the same recall-aggressive
        # tuning as the batch path (neardup_edges): at the 0.5
        # threshold the default 4×4 banding misses ~70% of borderline
        # pairs; 16×2 misses ~1%. Band parameters are part of the
        # stored index format, so they are fixed per sink instance.
        bands, hsets = minhash_index_rows(
            docs, "doc_id", "sh", num_hashes=num_hashes, band_size=band_size
        )
        # Batch-sized relations, consumed by several joins below —
        # materialize once instead of recomputing signatures per join.
        bands = bands.localCheckpoint(eager=True)
        hsets = hsets.localCheckpoint(eager=True)

        bands_path = posixpath.join(index_path, "bands")
        hsets_path = posixpath.join(index_path, "hsets")
        # Existence check, NOT try/except: a transient read error here
        # must FAIL the batch (the engine retries), because treating it
        # as "empty index" would silently admit near-dups of already
        # indexed docs — an unrepairable corruption of the invariant.
        # Reads carry an EXPLICIT schema so a torn publish (an epoch
        # dir holding only _temporary, no committed files — any crash
        # mid-write leaves this) yields an empty relation instead of
        # wedging every retry on schema inference; torn rows that DID
        # commit belong to the current epoch and fall to the
        # strictly-before filter below — after a crash between publish
        # and marker, the replay would otherwise self-match every doc
        # against its own rows at J=1.0 and overwrite the partition as
        # empty, losing the batch.
        if ledger.exists(bands_path) and ledger.exists(hsets_path):
            idx_bands = (
                spark.read.schema(BANDS_SCHEMA)
                .parquet(bands_path)
                .filter(F.col("epoch") < epoch_id)
            )
            idx_hsets = (
                spark.read.schema(HSETS_SCHEMA)
                .parquet(hsets_path)
                .filter(F.col("epoch") < epoch_id)
            )
        else:
            idx_bands = idx_hsets = None
        if stored is None and idx_bands is not None and not idx_bands.isEmpty():
            raise ValueError(
                f"near-dup index at {index_path} has data but no readable "
                "_meta.json — its band format is unknown; write the correct "
                "parameters back to _meta.json to confirm, or rebuild"
            )

        def matches(cand: DataFrame, left_h: DataFrame, right_h: DataFrame):
            """Candidate pairs that verify at ≥ threshold, as (doc_a, doc_b)."""
            return (
                jaccard_verify(cand, left_h, "hset", threshold, right_h)
                .select("doc_a", "doc_b")
                .distinct()
            )

        keys = ["band_id", "band_hash"]
        if idx_bands is not None:
            cand_idx = bucket_pairs(F.broadcast(bands), idx_bands, keys, op=None)
            dropped_idx = matches(cand_idx, hsets, idx_hsets).select("doc_a")
            survivors1 = docs.join(
                dropped_idx.withColumnRenamed("doc_a", "doc_id").distinct(),
                "doc_id",
                "left_anti",
            ).select("doc_id")
        else:
            survivors1 = docs.select("doc_id")
        survivors1 = survivors1.localCheckpoint(eager=True)

        # Within-batch: candidate pairs among survivors of (i); drop the
        # larger id of each verified pair.
        s_bands = bands.join(survivors1, "doc_id")
        cand_batch = bucket_pairs(s_bands, s_bands, keys, op=operator.gt)
        # The admitted-blocker rule is inherently sequential: in a chain
        # A~B, B~C, A≁C, doc C is admitted because its only match B was
        # itself dropped. Resolve the greedy pass on the DRIVER over the
        # collected verified-pair list — sized by the number of
        # within-batch near-dup PAIRS, never by the batch. A dup-storm
        # batch (a re-delivered feed of near-identical docs) can make
        # that pair relation quadratic, so it is materialized once and
        # counted first; past MAX_DRIVER_PAIRS the sink falls back to
        # the fully distributed one-shot rule (drop any doc matching a
        # smaller index-survivor) — chain tails over-drop, bounded and
        # documented, instead of a driver OOM.
        batch_pairs = matches(cand_batch, hsets, hsets).localCheckpoint(eager=True)
        if batch_pairs.count() <= max_driver_pairs:
            nbrs: dict = {}
            for r in batch_pairs.collect():
                nbrs.setdefault(r["doc_a"], set()).add(r["doc_b"])
                nbrs.setdefault(r["doc_b"], set()).add(r["doc_a"])
            dropped: set = set()
            for d in sorted(nbrs):
                if any(n < d and n not in dropped for n in nbrs[d]):
                    dropped.add(d)
            if dropped:
                # left_anti against a small DataFrame, never an In
                # literal: a near-cap batch can drop tens of thousands
                # of ids, and a 10k-literal In expression is a Catalyst
                # plan-size hazard.
                dropped_df = spark.createDataFrame(
                    [(d,) for d in sorted(dropped)], "doc_id long"
                )
                admitted = survivors1.join(dropped_df, "doc_id", "left_anti")
            else:
                admitted = survivors1
        else:
            admitted = survivors1.join(
                batch_pairs.select("doc_a").distinct().withColumnRenamed(
                    "doc_a", "doc_id"
                ),
                "doc_id",
                "left_anti",
            )
        admitted = admitted.localCheckpoint(eager=True)

        # The runner publishes these in order, then commits the epoch.
        # Each epoch OVERWRITES its own epoch=N partition directory
        # instead of appending to a shared one: a crash after a partial
        # publish replays into an overwrite of the same path —
        # idempotent — where a bare append would duplicate the batch's
        # rows. The marker then only saves the (harmless) re-publish
        # work on replay.
        # Meta is written ONLY when absent/unreadable (stored is None),
        # i.e. on first publish or to heal a torn first-epoch write. At
        # that point the index is provably empty (a nonempty index with
        # unreadable meta raised above), so a crash mid-write here can
        # only tear meta over an EMPTY index, which the next replay
        # heals. Rewriting every epoch would reopen that torn window
        # over a data-bearing index on every batch — where the
        # unreadable-meta check wedges the stream until manual repair.
        def write_meta() -> None:
            if stored is None:
                spark.createDataFrame(
                    [(_json.dumps(meta),)], "value string"
                ).coalesce(1).write.mode("overwrite").text(meta_path)

        def write_index(rel: DataFrame, path: str):
            return lambda: rel.join(admitted, "doc_id").write.mode(
                "overwrite"
            ).parquet(posixpath.join(path, f"epoch={epoch_id}"))

        return [
            ("post_meta_write", write_meta),
            ("post_bands_write", write_index(bands, bands_path)),
            ("post_hsets_write", write_index(hsets, hsets_path)),
        ], []

    return exactly_once_sink(index_path, plan, fault)


def foreach_batch_quality_gate(
    lake_path: str,
    keep_micro: int | None = None,
    fault=None,
):
    """Streaming model-based quality admission: ml05's fastText-shaped
    scorer as a micro-batch gate. Admitted documents land in
    ``data/epoch=<id>``; rejected ones in ``rejects/epoch=<id>`` with
    their scores, so the drop stream is auditable (dq05's quarantine
    discipline applied to the model gate).

    Exactly-once by the epoch-partition + ledger recipe (the SIMPLE
    protocol, not the generational one: admission is a pure per-row
    function with no cross-batch state, so a replay rewrites the same
    epoch dirs byte-for-byte — overwrite heals torn files — and the
    ledger commit is the commit point; no read-modify-write, no
    generation chain). Scoring reuses the BATCH operator
    (clustering.fasttext_scores), which is the point: batch/streaming
    parity of the gate is a code-sharing fact, not a re-implementation
    hoping to agree.
    """
    from ..operators.clustering import FT_KEEP_MICRO, fasttext_scores

    threshold = FT_KEEP_MICRO if keep_micro is None else keep_micro

    def plan(batch_df: DataFrame, epoch_id: int, ledger: EpochLedger):
        scored = batch_df.join(
            fasttext_scores(batch_df.select("doc_id", "text")),
            "doc_id",
        )
        admitted = scored.filter(F.col("score_micro") >= threshold)
        rejected = scored.filter(F.col("score_micro") < threshold).select(
            "doc_id", "score_micro", "n_tokens"
        )

        def write(rel: DataFrame, sub: str):
            return lambda: rel.write.mode("overwrite").parquet(
                ledger.path(sub, f"epoch={epoch_id}")
            )

        return [
            ("post_data_write", write(admitted, "data")),
            ("post_rejects_write", write(rejected, "rejects")),
        ], []

    return exactly_once_sink(lake_path, plan, fault)


def read_quality_gate(
    spark: SparkSession, lake_path: str, rejects: bool = False
) -> DataFrame | None:
    """Committed-epochs view of the quality gate's output (or rejects).

    Readers resolve through the ledger so an in-flight epoch's
    half-written partition is never observed — the same read contract
    as read_versioned, minus the generation chain.
    """
    ledger = EpochLedger(spark, lake_path)
    sub = "rejects" if rejects else "data"
    dirs = [ledger.path(sub, f"epoch={e}") for e in ledger.epochs()]
    dirs = [d for d in dirs if ledger.exists(d)]
    if not dirs:
        return None
    return spark.read.parquet(*dirs)
