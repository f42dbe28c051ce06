"""Physical-plan audit: sweep every registry query, tabulate plan shape.

For each query: number of shuffle exchanges, broadcast vs sort-merge
joins, whole-stage-codegen coverage, whether any filter was pushed to a
parquet scan, and flags that usually indicate a plan bug at scale
(cartesian products, single-partition windows over raw facts,
row-at-a-time Python evaluation outside the deliberate UDF demos).

Writes PLANS.md. Usage:

    python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

# Queries where a Python-eval / single-partition flag is the documented
# point of the query, not a plan bug.
EXPECTED_PYTHON = {
    "u01_pandas_udf_combine",
    "u02_entropy_udaf",
    "u03_apply_in_pandas_scores",
    "mm02_decode_features",
    "u05_python_udtf",  # the UDTF demo IS the Python path, by design
    "mm06_resize_batch",  # mapInPandas resize stage — Python by design
    "tx10_blocklist_filter",  # broadcast-variable pandas-UDF demo — Python by design
    # OPQ rotation — one Arrow-batched numpy matmul per batch, the
    # documented vectorized-Python path (a 64×64 rotation as codegen
    # literals would be a 4096-node expression tree)
    "sim10_opq_topk",
    "u06_arrow_udf_bucket",  # the Arrow scalar-UDF demo IS the Python path
    "u07_pandas_iter_udf",  # the SCALAR_ITER pandas-UDF demo IS the Python path
    "u08_apply_in_arrow",  # the grouped-map Arrow-UDF demo IS the Python path
}
EXPECTED_GLOBAL_WINDOW = {
    "o04_pagination",
    "w04_rank_by_aggregate",
    "a24_pct_of_total",
    "o03_ordered_batch_fetch",
    # lag over the DAILY grain — thousands of post-aggregation rows,
    # the documented W4/W5 posture
    "dq03_volume_anomaly",
    # grand-total/cumulative windows over the (lang,source) aggregate —
    # dozens of rows, post-aggregation
    "tp09_token_budget",
    # PSI terms over the 10-row bin spine
    "dq04_distribution_drift",
    # global rank/ntile over one row per document (post-aggregation);
    # the docstring documents the per-shard form at scale
    "tp10_curriculum_order",
    # cumulative ECDF window over the fixed 1000-row KS bin grid —
    # post-aggregation, bounded by KS_BINS regardless of corpus size
    "dq08_ks_drift",
    # cumulative rank window over the same ≤ KS_BINS-row bin relation
    "dq09_mann_whitney",
    # cumulative-budget window over the post-aggregation DAILY grain
    # (≤366 rows; per service key in multi-tenant use)
    "mon04_error_budget",
    # lag window over the post-aggregation MONTHLY grain (≤N months)
    "f31_mom_change",
    # sharded 3-level gap scan (r7): levels 0/1 are partitioned
    # windows; the ONLY global LEAD runs over the n/2^24-row
    # supershard summary relation — bounded post-aggregation posture
    "f25_id_gap_islands",
    # lower-median order statistics over the ≤ 366-row daily relation
    "ts13_seasonal_anomaly",
    # trailing 1h/6h RANGE frames over the HOURLY grain (≤ 8,760
    # rows/year post-aggregation — the documented W4/W5 posture; at
    # multi-year scale the window partitions by metric/service key)
    "mon02_slo_burn_rate",
    # total-row window over the ≤ 5-row grouped value-frequency
    # relation (heavy-hitter threshold n from the same exchange)
    "a31_freq_items",
    # seven fused LAG columns over the ≤ 366-row daily grain — the
    # documented post-aggregation posture (partition by series key for
    # multi-metric use)
    "ts14_ewma_anomaly",
    # cumulative token/type windows over the HEAPS_BUCKETS-row (10)
    # bucket spine — post-aggregation, scale-free by construction
    "tx20_heaps_curve",
}
EXPECTED_CARTESIAN = {
    "dd03_jaccard_pairs",        # brute-force oracle baseline, O(n²) by design
    # dd06/dd07 now run on MinHash-LSH edges (r3) — any cartesian there
    # is a regression, so they are deliberately NOT allow-listed.
    "sim01_bruteforce_topk",     # brute-force oracle baseline
    "sim02_near_dup_vectors",    # brute-force oracle baseline
    "j06_scalar_subquery_argmax",  # 1-row aggregate broadcast
    "sim03_ivf_topk",            # 1-row query vector broadcast onto centroids/cells
    "sim07_batch_topk",          # N-row query batch broadcast onto the corpus scan
    "q11_important_stock",       # 1-row threshold aggregate broadcast (Q11 HAVING scalar)
    "tx09_unigram_surprisal",    # 1-row corpus-total broadcast into the scoring join
    "sim08_hybrid_search",       # 1-row query vector broadcast onto the doc⋈vector scan
    "tp10_curriculum_order",     # 1-row corpus-total broadcast (shares tx09's scoring shape)
    "ml06_threshold_sweep",      # 5-row threshold spine broadcast onto the scored relation
    "sim15_ivf_recall_eval",     # bounded (≤50-row) query-panel broadcast, twice — the eval's exact leg
    # spine construction: event-type dim × bounded hour sequence —
    # dim-sized by construction (hours × types), never data-sized
    "ts07_gap_fill",
    # 1-row median/MAD relations broadcast back onto the daily grain
    # (filtered-window scalars — the keyless-aggregate heuristic can't
    # see them)
    "ts13_seasonal_anomaly",
    # 1-row query vector broadcast onto centroids + probed cells
    # (sim03's shape with a threshold filter instead of top-k)
    "sim16_range_search",
    # 1-row MAX(doc_id) aggregate broadcast onto the token/type streams
    # (bucket-width scalar)
    "tx20_heaps_curve",
    # 4-row query-panel broadcast onto centroids, and the 1-row
    # quantization-bounds broadcast onto the probed-cell scan (the
    # batch generalization of sim03's allow-listed shape)
    "sim17_ivf_sq_batch_topk",
    # 1-row query vector broadcast onto centroids + probed cells
    # (sim03's allow-listed shape with the metadata predicate pushed)
    "sim18_filtered_ann",
}


def audit(plan: str) -> dict:
    # Executed AdaptiveSparkPlan prints "== Final Plan ==" followed by
    # "== Initial Plan ==" — audit node COUNTS on the final one only.
    full = plan
    if "== Initial Plan ==" in plan:
        plan = plan.split("== Initial Plan ==")[0]
    # A SinglePartition exchange is fine when it feeds the FINAL stage
    # of a scalar aggregate (HashAggregate with no keys, or a
    # SortAggregate equivalent): only per-partition partials move. It
    # is a scale bug when a Window/Sort runs over raw rows in one
    # partition.
    # Evidence is searched in the FULL string (final + initial): when a
    # query re-executes against relations another query already cached,
    # AQE's final plan collapses the keyless aggregate into a
    # materialized BroadcastQueryStage whose subtree only prints in the
    # initial section — the aggregate is semantic (from the logical
    # plan), so either section proves the pattern (dd17 under the
    # cache-warm sweep was the false positive).
    scalar_agg = bool(re.search(r"(Hash|Sort|ObjectHash)Aggregate\(keys=\[\]", full))
    # Plan-level co-occurrence of IdentityBroadcastMode + keyless agg.
    # REPORTING ONLY: the warning logic uses bnlj_all_scalar(), which
    # scopes the check to each nested-loop join's own build subtree — a
    # genuine cartesian co-occurring with an unrelated scalar subquery
    # would be masked by this plan-level boolean (ADVICE r8).
    scalar_bcast = bool(re.search(r"IdentityBroadcastMode", full)) and scalar_agg
    return {
        "exchanges": len(re.findall(r"Exchange (?:hash|range|Single)", plan)),
        "bhj": len(re.findall(r"BroadcastHashJoin", plan)),
        "smj": len(re.findall(r"SortMergeJoin", plan)),
        "bnlj": len(re.findall(r"BroadcastNestedLoopJoin|CartesianProduct", plan)),
        "codegen": len(set(re.findall(r"\*\((\d+)\)", plan))),
        "pushed": bool(re.search(r"PushedFilters: \[[^\]]*\w", plan)),
        "python": bool(re.search(r"BatchEvalPython|ArrowEvalPython|FlatMapGroupsInPandas|FlatMapGroupsInArrow|MapInPandas", plan)),
        "single_part_window": bool(re.search(r"Exchange SinglePartition", plan)),
        "scalar_agg": scalar_agg,
        "scalar_bcast": scalar_bcast,
    }


def _jwalk(node):
    """Walk a JVM SparkPlan tree, descending through the wrappers that
    hide subtrees from children(): AdaptiveSparkPlanExec (executedPlan),
    materialized QueryStageExec (plan), ReusedExchangeExec (child)."""
    stack = [node]
    while stack:
        n = stack.pop()
        yield n
        name = n.getClass().getSimpleName()
        try:
            if name == "AdaptiveSparkPlanExec":
                stack.append(n.executedPlan())
            elif name.endswith("QueryStageExec"):
                stack.append(n.plan())
            elif name == "ReusedExchangeExec":
                stack.append(n.child())
            elif name == "InMemoryTableScanExec":
                # cache-warm sessions substitute InMemoryRelation for a
                # matching subtree (the r8 audit trap) — the evidence
                # (e.g. the keyless aggregate feeding a scalar
                # broadcast) then lives only in the cached plan
                stack.append(n.relation().cachedPlan())
        except Exception:  # noqa: BLE001
            pass
        try:
            ch = n.children()
            for i in range(ch.size()):
                stack.append(ch.apply(i))
        except Exception:  # noqa: BLE001
            pass


def _scalar_broadcast_subtree(node) -> bool:
    """True if the subtree contains a keyless (grouping-free) aggregate
    — i.e. it produces a 1-row scalar. NB: IdentityBroadcastMode alone
    is NOT a signal: every BNLJ build side uses it (a brute-force
    crossJoin's corpus broadcast prints it too — measured on dd03); the
    keyless aggregate below the build is the actual discriminator."""
    for d in _jwalk(node):
        name = d.getClass().getSimpleName()
        if name in ("HashAggregateExec", "SortAggregateExec", "ObjectHashAggregateExec"):
            try:
                if d.groupingExpressions().isEmpty():
                    return True
            except Exception:  # noqa: BLE001
                pass
    return False


def bnlj_all_scalar(df) -> bool:
    """True iff EVERY BroadcastNestedLoopJoin in the executed plan
    broadcasts a scalar subtree — the check is scoped to each join's
    own BUILD SIDE (ADVICE r8: the old whole-plan co-occurrence test
    whitelisted every nested-loop join in a query as soon as ANY
    unrelated keyless aggregate appeared anywhere in the plan).
    CartesianProductExec never qualifies: a 1-row scalar broadcast
    plans as BNLJ, so a true cartesian must be explicitly allow-listed
    in EXPECTED_CARTESIAN."""
    root = df._jdf.queryExecution().executedPlan()
    joins = [
        n
        for n in _jwalk(root)
        if n.getClass().getSimpleName()
        in ("BroadcastNestedLoopJoinExec", "CartesianProductExec")
    ]
    if not joins:
        return False
    for j in joins:
        if j.getClass().getSimpleName() == "CartesianProductExec":
            return False
        try:
            build_right = "BuildRight" in j.buildSide().toString()
        except Exception:  # noqa: BLE001
            build_right = True
        ch = j.children()
        side = ch.apply(1) if build_right else ch.apply(0)
        if not _scalar_broadcast_subtree(side):
            return False
    return True


def run_audit(spark, sf_dir: str) -> tuple[list, list[str]]:
    """Execute every registry query at ``sf_dir`` and audit its final
    (post-AQE) physical plan. Returns (rows, warnings); zero warnings is
    the CI gate (tests/test_plan_audit.py) — a plan regression fails the
    commit it lands on instead of surfacing at round close.
    """
    from chicago_business_owners_data_engineering_spark import registry

    rows, warnings = [], []
    for name in sorted(registry.QUERIES):
        try:
            df = registry.QUERIES[name](spark, sf_dir)
            # Execute THIS plan (count() would execute a different,
            # wrapped query and leave this one's AQE plan non-final).
            df.collect()
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # noqa: BLE001
            warnings.append(f"{name}: PLAN ERROR {type(e).__name__}: {e}")
            continue
        a = audit(plan)
        rows.append((name, a))
        if a["bnlj"] and name not in EXPECTED_CARTESIAN and not bnlj_all_scalar(df):
            warnings.append(f"{name}: unexpected nested-loop/cartesian join")
        if a["python"] and name not in EXPECTED_PYTHON:
            warnings.append(f"{name}: unexpected Python evaluation in plan")
        if (
            a["single_part_window"]
            and not a["scalar_agg"]
            and name not in EXPECTED_GLOBAL_WINDOW
        ):
            warnings.append(f"{name}: unexpected single-partition exchange")
    return rows, warnings


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from chicago_business_owners_data_engineering_spark.session import get_spark

    spark = get_spark("plan-audit", shuffle_partitions=8)
    rows, warnings = run_audit(spark, sf_dir)

    with open(ROOT / "PLANS.md", "w") as f:
        f.write(
            "# PLANS — physical-plan audit (generated by tools/plan_audit.py)\n\n"
            f"Audited at `{sf_dir}`, AQE on. Columns: shuffle exchanges, "
            "broadcast-hash / sort-merge / nested-loop join counts, "
            "whole-stage-codegen stages, filter pushed to scan, Python "
            "eval present, single-partition exchange present.\n\n"
            "Flags are expected (and documented) for the brute-force "
            "oracle baselines, the deliberate UDF demos, and "
            "post-aggregation global windows; anything else prints a "
            "warning at the bottom.\n\n"
            "| query | exch | BHJ | SMJ | NLJ | codegen | pushdown | py | 1-part |\n"
            "|---|---|---|---|---|---|---|---|---|\n"
        )
        for name, a in rows:
            f.write(
                f"| {name} | {a['exchanges']} | {a['bhj']} | {a['smj']} | {a['bnlj']} "
                f"| {a['codegen']} | {'y' if a['pushed'] else ''} "
                f"| {'y' if a['python'] else ''} | {'y' if a['single_part_window'] else ''} |\n"
            )
        f.write("\n## Warnings\n\n")
        if warnings:
            for w in warnings:
                f.write(f"- {w}\n")
        else:
            f.write("none — every flag accounted for.\n")
    print(f"{len(rows)} plans audited, {len(warnings)} warnings")
    for w in warnings:
        print("WARN", w)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
