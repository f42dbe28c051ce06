"""The three closed-loop workloads: one client, one call at a time.

Each workload's pass is a fixed list of calls into the engine's public
functions; the seed only orders them. ``run_pass`` records one op per
call in ``Runner.ops``. Correctness is checked after each call returns,
outside its timed region, and a failed check marks the op failed.
"""

from __future__ import annotations

import os
import shutil
import time
import traceback

from digest import frame_digest, parquet_digest, rows_digest
from procstat import tree_cpu_s
from tracer import Tracer

QUERY_MIX = (
    # lookup, search and pagination
    "p03_point_lookup", "p04_ci_substring", "o04_pagination", "o07_keyset_pagination",
    # top-k
    "a09_topk_counts", "o06_topk_per_group",
    # aggregates and joins
    "a06_grouped_multi_agg", "a16_shannon_entropy", "a24_pct_of_total",
    "q01_pricing_summary", "q03_shipping_priority", "q05_supplier_volume",
    "q18_large_orders", "wh01_daily_agg", "j04_left_outer_join",
    # vector, text and hybrid search
    "sim03_ivf_topk", "tx11_bm25_search", "sim08_hybrid_search",
    # Arrow / pandas UDFs
    "mm02_decode_features", "u06_arrow_udf_bucket",
)
# the fixpoint query of etl_full: the one that launches the most jobs
# while it is being constructed
ETL_FIXPOINT = "gr05_kcore"
FIXPOINT = ("gr01_pagerank", "gr05_kcore", "gr07_lpa_communities", "dd06_neardup_components")
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


class CheckFailed(Exception):
    pass


class Runner:
    """Times calls into the engine and checks what they return."""

    def __init__(self, spark, sf_dir: str, work_dir: str, tracer: Tracer | None = None):
        import duckdb

        from chicago_business_owners_data_engineering_spark import registry

        self.spark = spark
        self.sf_dir = sf_dir
        self.work_dir = work_dir
        self.tracer = tracer
        self.queries = registry.get_queries()
        self.oracles = registry.get_oracles()
        self.con = duckdb.connect()
        for t in TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        self.expected: dict[str, str] = {}  # op name -> digest every pass must return
        self.ops: list[dict] = []
        self.pass_no = 0
        self.traced = False

    def oracle_digest(self, name: str) -> str:
        """Digest of the query's DuckDB twin, evaluated once per run."""
        key = f"oracle:{name}"
        if key not in self.expected:
            self.expected[key] = frame_digest(self.con.execute(self.oracles[name]).df())
        return self.expected[key]

    def call(self, name: str, kind: str, fn, check=None) -> dict:
        """Time ``fn()``, then run ``check(result)`` untimed.

        ``fn`` may return ``(result, phases)`` where ``phases`` holds
        sub-timings measured inside the call (construct / plan).
        """
        op = {"pass": self.pass_no, "name": name, "kind": kind, "traced": self.traced}
        first_job = self.tracer.mark() if self.traced else None
        cpu = tree_cpu_s(os.getpid())
        start = time.time()
        try:
            result, phases = fn()
            op.update(phases)
        except Exception as e:  # noqa: BLE001 — a failing call is a counted outcome
            result = None
            op["error"] = f"{type(e).__name__}: {e}"
            traceback.print_exc()
        end = time.time()
        op.update(start=start, end=end, wall_s=end - start, cpu_s=tree_cpu_s(os.getpid()) - cpu)
        if "error" not in op and check is not None:
            try:
                check(result)
            except CheckFailed as e:
                op["error"] = f"wrong result: {e}"
        op["ok"] = "error" not in op
        if self.traced:
            self.tracer.close_span(op, first_job)
        self.ops.append(op)
        return op

    def same_as_first(self, name: str, digest: str) -> None:
        want = self.expected.setdefault(name, digest)
        if digest != want:
            raise CheckFailed(f"{name}: digest {digest} differs from {want}")

    def construct_plan(self, name: str):
        """Construct the query and force its physical plan (no action yet)."""
        t0 = time.time()
        j0 = self.tracer.mark() if self.traced else 0
        df = self.queries[name](self.spark, self.sf_dir)
        t1 = time.time()
        phases = {"construct_s": t1 - t0}
        if self.traced:
            phases["construct_jobs"] = self.tracer.mark() - j0
            t1 = time.time()
        df._jdf.queryExecution().executedPlan()
        phases["plan_s"] = time.time() - t1
        return df, phases

    def query(self, name: str) -> dict:
        """One API call: construct, plan, ``collect()``; digest checked after."""

        def run():
            df, phases = self.construct_plan(name)
            t = time.time()
            rows = df.collect()
            phases["exec_s"] = time.time() - t
            return (rows, df.schema), phases

        def check(result):
            got = rows_digest(*result)
            if name in self.oracles:
                want = self.oracle_digest(name)
                if got != want:
                    raise CheckFailed(f"{name}: {got} != oracle {want}")
            self.same_as_first(name, got)

        return self.call(name, "query", run, check)

    def fresh_lake(self) -> str:
        path = os.path.join(self.work_dir, f"lake-{self.pass_no}")
        shutil.rmtree(path, ignore_errors=True)
        return path

    def close(self) -> None:
        self.con.close()


def _timed(fn):
    return lambda: (fn(), {})


class QueryMix:
    """The API / dashboard query surface: 20 read-only registry queries."""

    name = "query_mix"

    def __init__(self, runner: Runner):
        self.r = runner

    def run_pass(self, rng) -> None:
        for i in rng.permutation(len(QUERY_MIX)):
            self.r.query(QUERY_MIX[i])

    def probe_queries(self) -> tuple[str, ...]:
        return ()


class EtlFull:
    """The batch path: ingestion, the six-stage warehouse, analytics.

    The pass ends with the LLM-data batch steps, so that the vector
    pipeline and the fixpoint operators are measured on a declared
    workload too: the vector index built into the same lake and served
    once, and one fixpoint query.
    """

    name = "etl_full"

    def __init__(self, runner: Runner):
        self.r = runner
        self.stage_timings: list[dict] = []

    def run_pass(self, rng) -> None:
        from chicago_business_owners_data_engineering_spark import cli
        from chicago_business_owners_data_engineering_spark.plans.warehouse import (
            run_warehouse_pipeline,
        )

        r = self.r
        spark, sf = r.spark, r.sf_dir
        lake = r.fresh_lake()

        def check_ingestion(out):
            got = parquet_digest(r.con, out["processed_path"])
            want = r.expected.get("source:orders")
            if want is None:
                want = r.expected["source:orders"] = frame_digest(r.con.execute("SELECT * FROM orders").df())
            if got != want:
                raise CheckFailed(f"processed orders {got} != source {want}")

        r.call("ingestion", "cli", _timed(lambda: cli.run_ingestion_mode(spark, sf, lake)), check_ingestion)

        stages: dict[str, float] = {}
        wh_dir = os.path.join(lake, "warehouse")

        def warehouse():
            verdict = run_warehouse_pipeline(spark, sf, wh_dir, stage_timings=stages)
            return [row.asDict() for row in verdict.collect()], {}

        def check_warehouse(rows):
            failed = [row for row in rows if not row.get("passed")]
            if failed or not rows:
                raise CheckFailed(f"validation failed: {failed or 'no rows'}")
            gold = os.path.join(wh_dir, "gold")
            for name in sorted(os.listdir(gold)):
                r.same_as_first(f"gold:{name}", parquet_digest(r.con, os.path.join(gold, name)))

        r.call("warehouse", "pipeline", warehouse, check_warehouse)
        self.stage_timings.append(dict(stages))

        def check_analytics(out):
            for name in out["queries"]:
                got = parquet_digest(r.con, os.path.join(lake, "analytics", name))
                want = r.oracle_digest(name)
                if got != want:
                    raise CheckFailed(f"analytics {name}: {got} != oracle {want}")
            if len(out["queries"]) != len(cli.ANALYTICS_QUERIES):
                raise CheckFailed(f"analytics wrote {out['queries']}")

        r.call("analytics", "cli", _timed(lambda: cli.run_analytics_mode(spark, sf, lake)), check_analytics)
        vector_index(r, lake)
        r.query(ETL_FIXPOINT)
        shutil.rmtree(lake, ignore_errors=True)

    def probe_queries(self) -> tuple[str, ...]:
        from chicago_business_owners_data_engineering_spark import cli

        return ("dq01_quality_profile", *cli.ANALYTICS_QUERIES)


class LlmIterative:
    """Iterative LLM-data paths: the vector index, then four fixpoint queries."""

    name = "llm_iterative"

    def __init__(self, runner: Runner):
        self.r = runner
        self.r.expected["oracle:dd06_neardup_components"] = neardup_components_digest(runner.con)

    def run_pass(self, rng) -> None:
        lake = self.r.fresh_lake()
        vector_index(self.r, lake)
        for i in rng.permutation(len(FIXPOINT)):
            self.r.query(FIXPOINT[i])
        shutil.rmtree(lake, ignore_errors=True)

    def probe_queries(self) -> tuple[str, ...]:
        return ()


def vector_index(r: Runner, lake: str) -> None:
    """Build the vector index into ``lake``, then serve one query from it.

    Two calls: ``vector_build`` (Lloyd k-means, semantic-dedup
    components, PQ encode, partitioned index write) and ``vector_serve``
    (ADC scan and exact re-rank for the probe vector).
    """
    from pyspark.sql import functions as F

    from chicago_business_owners_data_engineering_spark.catalog import load_table
    from chicago_business_owners_data_engineering_spark.operators.similarity import (
        QUERY_VEC_ID,
        TOP_K,
    )
    from chicago_business_owners_data_engineering_spark.plans.vector_pipeline import (
        build_vector_index,
        query_vector_index,
    )

    spark, sf = r.spark, r.sf_dir
    vec_dir = os.path.join(lake, "vector")
    n_vec = r.con.execute("SELECT count(*) FROM embeddings").fetchone()[0]
    card = {}

    def check_card(c):
        card.update(c)
        if not (
            c["raw_vectors"] == n_vec
            and c["survivors"] == c["indexed"] == n_vec - c["semantic_dropped"]
            and 0 < c["n_components"] <= c["survivors"]
        ):
            raise CheckFailed(f"inconsistent build card {c}")
        r.same_as_first("vector_build", repr({k: v for k, v in c.items() if k != "codebook"}))

    r.call("vector_build", "pipeline", _timed(lambda: build_vector_index(spark, sf, vec_dir)), check_card)

    def serve():
        qv = [
            float(x)
            for x in load_table(spark, sf, "embeddings")
            .filter(F.col("vec_id") == QUERY_VEC_ID)
            .select(F.transform("embedding", lambda v: v.cast("double")).alias("v"))
            .collect()[0]["v"]
        ]
        hits = query_vector_index(spark, sf, vec_dir, card["codebook"], qv, top_k=TOP_K).collect()
        return [(h["vec_id"], h["l2_dist"]) for h in hits], {}

    def check_serve(hits):
        if len(hits) != TOP_K or hits[0][0] != QUERY_VEC_ID:
            raise CheckFailed(f"top-{TOP_K} {hits[:3]}... should start at vec_id {QUERY_VEC_ID}")
        r.same_as_first("vector_serve", repr(hits))

    if card:
        r.call("vector_serve", "pipeline", serve, check_serve)


def neardup_components_digest(con) -> str:
    """dd06's oracle, evaluated in Python instead of DuckDB.

    Same definition as the registry's recursive-CTE twin: distinct
    word-trigram shingles of the lower-cased text (the whole text when
    it has fewer than three words), an edge between documents whose
    shingle Jaccard is at least 0.5, then connected components labelled
    by their smallest doc_id. Only documents with an edge appear. The
    DuckDB twin compares all pairs in about 30 s at this input size;
    this one takes well under a second.
    """
    import pandas as pd

    docs = con.execute("SELECT doc_id, text FROM documents ORDER BY doc_id").fetchall()
    shingles = {}
    for doc_id, text in docs:
        t = text.lower().split(" ")
        shingles[doc_id] = (
            frozenset(" ".join(t[i : i + 3]) for i in range(len(t) - 2))
            if len(t) >= 3
            else frozenset([text.lower()])
        )
    by_shingle: dict[str, list[int]] = {}
    for doc_id, ws in shingles.items():
        for w in ws:
            by_shingle.setdefault(w, []).append(doc_id)
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    seen = set()
    for ids in by_shingle.values():
        for i, a in enumerate(ids):
            for b in ids[i + 1 :]:
                if (a, b) in seen:
                    continue
                seen.add((a, b))
                inter = len(shingles[a] & shingles[b])
                if 2 * inter >= len(shingles[a]) + len(shingles[b]) - inter:
                    parent.setdefault(a, a)
                    parent.setdefault(b, b)
                    ra, rb = find(a), find(b)
                    parent[max(ra, rb)] = min(ra, rb)
    comp = {d: find(d) for d in parent}
    sizes: dict[int, int] = {}
    for c in comp.values():
        sizes[c] = sizes.get(c, 0) + 1
    frame = pd.DataFrame(
        {
            "doc_id": pd.Series(list(comp), dtype="int64"),
            "component": pd.Series([comp[d] for d in comp], dtype="int64"),
            "csize": pd.Series([sizes[comp[d]] for d in comp], dtype="int64"),
        }
    )
    return frame_digest(frame)


WORKLOADS = {w.name: w for w in (EtlFull, QueryMix, LlmIterative)}
