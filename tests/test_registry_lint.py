"""Registry-wide oracle lints.

The r08 sf0.1 sweep proved ``ROUND(SUM(<double>))`` oracles are
fold-order fragile: skew01's salted two-stage sum landed on the other
side of a rounding boundary from DuckDB's single fold, and the same
class re-breaks at any scale or partitioning change. Round 9 migrated
every money/metric sum to per-row integer quantization (FLOOR(x·100) →
BIGINT sums, skew01's rule); this lint keeps the class retired: any
oracle that hashes a ROUND over a SUM must either sum an
integer-quantized column or carry an explicit waiver here with the
reason the fold is exact or bounded.
"""

from __future__ import annotations

import re

from chicago_business_owners_data_engineering_spark import registry

# Queries allowed to keep ROUND over a SUM, with the reason the fold
# cannot diverge. Every entry must name WHY the inner SUM is exact
# (integer summand) or scale-bounded. Adding a new ROUND(SUM oracle
# without a waiver fails this test.
ROUND_SUM_WAIVERS: dict[str, str] = {
    # integer summands: the SUM is exact BIGINT arithmetic at any fold
    # order; ROUND applies to one deterministic final division
    "q08_market_share": "sums volume_cents (BIGINT); single division then ROUND",
    "q14_promo_revenue": "sums FLOOR(rev*100) BIGINT cents; single ratio division",
    "q17_small_quantity_revenue": "sums FLOOR(price*100) BIGINT; /700.0 once",
    "inc01_incremental_rollup": "avg over exact cent/count integers; one division",
    "mon01_metrics_snapshot": "sums CASE 1/0 integers; one division by COUNT(*)",
    "ts09_seasonal_naive_backtest": "sums BIGINT cent errors; one WAPE division",
    "tp09_token_budget": "window-sums BIGINT token counts; share divisions only",
    # integer summands: counts / CASE 1-0 flags — exact at any fold order
    "a24_pct_of_total": "COUNT(*) window ratio; integer sums, one division",
    "dd14_ngram_novelty": "sums CASE 1/0 integers; one ratio division",
    "ml08_reliability_bins": "sums CASE 1/0 integers; one ratio division",
    "tp06_curation_report": "sums CASE 1/0 integers; one ratio division",
    "tp07_contamination_check": "sums CASE 1/0 integers; one ratio division",
    "ts08_event_transitions": "window-sums BIGINT transition counts; one division",
    # scale-bounded float sums: the term domain is the CATEGORY space
    # (enum-sized, data-volume-independent) or a constant bin spine, so
    # term count and magnitude never grow with corpus size
    "a16_shannon_entropy": "entropy terms over the enum-sized category domain",
    "a16b_grouped_entropy": "entropy terms over the enum-sized category domain",
    "a17_gini_simpson": "p^2 terms over the enum-sized category domain",
    "u02_entropy_udaf": "entropy terms over the enum-sized category domain",
    "dq04_distribution_drift": "PSI = sum of 10 smoothed terms over a fixed bin spine",
}


def _round_args(sql: str) -> list[str]:
    """Every balanced-paren argument of a ROUND( call in ``sql``."""
    out = []
    for m in re.finditer(r"\bROUND\s*\(", sql, re.I):
        depth, start = 1, m.end()
        i = start
        while i < len(sql) and depth:
            if sql[i] == "(":
                depth += 1
            elif sql[i] == ")":
                depth -= 1
            i += 1
        out.append(sql[start : i - 1])
    return out


def test_no_unwaivered_round_over_sum():
    offenders = {}
    for name, sql in registry.get_oracles().items():
        if any(re.search(r"\bSUM\s*\(", arg, re.I) for arg in _round_args(sql)):
            if name not in ROUND_SUM_WAIVERS:
                offenders[name] = sql
    assert not offenders, (
        "oracles hashing ROUND over a SUM without a waiver (fold-order "
        f"fragile — use integer quantization, skew01's rule): {sorted(offenders)}"
    )


def test_waivers_are_live():
    """A waiver for a query that no longer has the pattern is stale."""
    oracles = registry.get_oracles()
    stale = []
    for name in ROUND_SUM_WAIVERS:
        sql = oracles.get(name, "")
        if not any(re.search(r"\bSUM\s*\(", arg, re.I) for arg in _round_args(sql)):
            stale.append(name)
    assert not stale, f"stale ROUND(SUM waivers: {stale}"


def test_no_round_sum_raw_double_columns():
    """Belt-and-braces: no oracle ROUNDs a SUM whose immediate summand
    is a raw double table column (the exact skew01 failure shape) —
    even waivered queries must quantize before summing money/metrics."""
    raw_double_cols = (
        "l_extendedprice l_quantity l_discount l_tax o_totalprice "
        "c_acctbal s_acctbal p_retailprice value"
    ).split()
    bad = []
    for name, sql in registry.get_oracles().items():
        for arg in _round_args(sql):
            for m in re.finditer(r"\bSUM\s*\(", arg, re.I):
                depth, start = 1, m.end()
                i = start
                while i < len(arg) and depth:
                    if arg[i] == "(":
                        depth += 1
                    elif arg[i] == ")":
                        depth -= 1
                    i += 1
                inner = arg[start : i - 1]
                # a quantized summand always wraps the column in FLOOR/
                # ROUND + CAST ... AS BIGINT; a bare column (behind ANY
                # table alias, not just l./o./c. — ADVICE r9) is the bug
                stripped = inner.strip().lower()
                if any(
                    re.fullmatch(rf"(?:\w+\.)?{re.escape(c)}", stripped)
                    for c in raw_double_cols
                ):
                    bad.append((name, inner.strip()))
    assert not bad, f"oracles ROUND a SUM of a raw double column: {bad}"


def test_r09_front_is_the_mechanical_staleness_pick():
    """From round 9 the rotation invariant is EVIDENCE FRESHNESS: the
    front must equal the 50 stalest queries (ascending last-driver-
    sampled round, then name) derived mechanically from the
    CORRECTNESS_r01..r08 record — no hand-curated front can drift from
    the evidence. The window is pinned at rounds <= 8 so this stays
    reproducible after later rounds add their own driver files."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
    from rotation import stalest_front

    expected = stalest_front(list(registry.get_queries()), limit=50, max_round=8)
    assert list(registry._R09_FRONT) == expected


def test_persist_only_through_pins():
    """Every persisted intermediate has one owner: ``catalog.Pins``
    (directly or through ``catalog.generation``). A ``.persist(``,
    ``.cache()`` or ``.unpersist(`` call anywhere else in the engine
    package would bring back a relation with no bounded lifetime."""
    import ast
    from pathlib import Path

    pkg = Path(registry.__file__).resolve().parent
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        if path.name == "catalog.py" and path.parent == pkg:
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and (
                    node.func.attr in ("persist", "unpersist")
                    or (node.func.attr == "cache" and not node.args)
                )
            ):
                offenders.append(f"{path.relative_to(pkg)}:{node.lineno}")
    assert not offenders, offenders


def test_sinks_touch_storage_only_through_the_ledger():
    """The streaming sinks reach their store only through
    ``streaming.jobs.EpochLedger`` (the Hadoop FileSystem API): a
    driver-local ``os``/``shutil`` call resolves a URI root such as
    ``file:///x`` as a relative path, so its markers and probes would
    land under the process's working directory instead of the sink
    root. Path joins stay allowed."""
    import ast
    from pathlib import Path

    banned = {
        "os.makedirs",
        "os.listdir",
        "os.path.isdir",
        "os.path.exists",
        "shutil.rmtree",
    }
    pkg = Path(registry.__file__).resolve().parent
    offenders = []
    for rel in ("streaming/jobs.py", "plans/vector_pipeline.py"):
        for node in ast.walk(ast.parse((pkg / rel).read_text())):
            if isinstance(node, ast.Call) and ast.unparse(node.func) in banned:
                offenders.append(f"{rel}:{node.lineno} {ast.unparse(node.func)}")
    assert not offenders, offenders


def test_vector_family_written_once():
    """Each step of the vector family has one definition. Only
    ``similarity.salted_cell_join`` salts a blocked self-join with
    ``xxhash64("vec_id")``, and only ``shared_oracles`` spells out the
    oracle cosine (``cos_sql``) or the dim-64 centroid series
    (``IVF_CENTROID_CTE``); every other module composes them."""
    import ast
    from pathlib import Path

    cosine_sql = re.compile(r"/\s*\(\s*SQRT\s*\(\s*LIST_DOT_PRODUCT", re.I)
    pkg = Path(registry.__file__).resolve().parent
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        rel = str(path.relative_to(pkg))
        text = path.read_text()
        tree = ast.parse(text)
        allowed = set()
        if rel == "operators/similarity.py":
            for fn in ast.walk(tree):
                if isinstance(fn, ast.FunctionDef) and fn.name == "salted_cell_join":
                    allowed.update(id(n) for n in ast.walk(fn))
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and ast.unparse(node.func).endswith("xxhash64")
                and [ast.unparse(a) for a in node.args] == ["'vec_id'"]
                and id(node) not in allowed
            ):
                offenders.append(f"{rel}:{node.lineno} xxhash64('vec_id')")
        if rel == "operators/shared_oracles.py":
            continue
        for m in cosine_sql.finditer(text):
            offenders.append(f"{rel}:{text.count(chr(10), 0, m.start()) + 1} cosine SQL")
        for m in re.finditer(r"GENERATE_SERIES\(1, 64\)", text):
            offenders.append(f"{rel}:{text.count(chr(10), 0, m.start()) + 1} GENERATE_SERIES")
    assert not offenders, offenders


def test_dedup_family_written_once():
    """Each step of the near-dup family has one definition. Only
    ``dedup.jaccard_score`` intersects token sets (blocked pairs reach
    it through ``bucket_pairs`` and ``jaccard_verify``), only
    ``shared_oracles`` spells out the oracle Jaccard (``jaccard_sql``)
    or the shingle expression (``SHINGLE_SQL``), and no oracle is
    derived from another's text by ``.replace``."""
    import ast
    from pathlib import Path

    pkg = Path(registry.__file__).resolve().parent
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        rel = str(path.relative_to(pkg))
        text = path.read_text()
        tree = ast.parse(text)
        allowed = set()
        for fn in ast.walk(tree):
            if isinstance(fn, ast.FunctionDef) and fn.name == "jaccard_score":
                allowed.update(id(n) for n in ast.walk(fn))
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            func = ast.unparse(node.func)
            if (
                rel in ("operators/dedup.py", "operators/incremental.py", "streaming/jobs.py")
                and func.endswith("array_intersect")
                and id(node) not in allowed
            ):
                offenders.append(f"{rel}:{node.lineno} array_intersect")
        # Oracle text: ``@query(..., oracle=...)`` values and module-level
        # ``*_ORACLE`` / ``*_SQL`` / ``*_CTE(S)`` constants.
        oracle_text = [
            kw.value
            for node in ast.walk(tree)
            if isinstance(node, ast.Call) and ast.unparse(node.func).endswith("query")
            for kw in node.keywords
            if kw.arg == "oracle"
        ] + [
            node.value
            for node in tree.body
            if isinstance(node, ast.Assign)
            and any(
                isinstance(t, ast.Name) and re.search(r"(ORACLE|_SQL|_CTES?)$", t.id)
                for t in node.targets
            )
        ]
        for expr in oracle_text:
            for node in ast.walk(expr):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "replace"
                ):
                    offenders.append(f"{rel}:{node.lineno} oracle .replace")
        if rel == "operators/shared_oracles.py":
            continue
        for needle in ("LEN(a.ws) + LEN(b.ws) - LEN(LIST_INTERSECT", "CASE WHEN LEN(t) >= 3"):
            for m in re.finditer(re.escape(needle), text):
                offenders.append(f"{rel}:{text.count(chr(10), 0, m.start()) + 1} {needle}")
    assert not offenders, offenders


def _text_family_offenders(pkg) -> list[str]:
    """Sites under ``pkg`` that spell out a text-family step themselves
    instead of composing ``functions/text.py`` or ``shared_oracles``."""
    import ast

    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        rel = str(path.relative_to(pkg))
        text = path.read_text()
        if rel != "functions/text.py":
            for node in ast.walk(ast.parse(text)):
                if (
                    isinstance(node, ast.Call)
                    and ast.unparse(node.func) == "F.split"
                    and node.args
                    and any(
                        (isinstance(n, ast.Constant) and re.search(r"(^|\.)text$", str(n.value)))
                        or (isinstance(n, ast.Name) and "text" in n.id)
                        for n in ast.walk(node.args[0])
                    )
                ):
                    offenders.append(f"{rel}:{node.lineno} F.split on text")
            needles = ["split(lower("]
        else:
            needles = []
        if rel != "operators/shared_oracles.py":
            needles += ["STRING_SPLIT(LOWER(", "STRING_SPLIT(text, ' ')", "SUBSTRING(MD5(tok)"]
            # The whitespace-token count written as length arithmetic.
            needles += ["LENGTH(REPLACE(text, ' ', ''))", 'F.regexp_replace("text", " ", "")']
        for needle in needles:
            for m in re.finditer(re.escape(needle), text):
                offenders.append(f"{rel}:{text.count(chr(10), 0, m.start()) + 1} {needle}")
    return offenders


def test_text_family_written_once():
    """Each step of the text family has one definition: only
    ``functions/text.py`` splits a ``text`` column (``words``,
    ``ws_tokens``, and ``WORDS_EXPR`` in Spark SQL strings), and only
    ``shared_oracles`` spells out their DuckDB twins (``words_sql``,
    ``WS_TOKENS_SQL``) or the hashed-token bucket (``md5_bucket_sql``)."""
    from pathlib import Path

    offenders = _text_family_offenders(Path(registry.__file__).resolve().parent)
    assert not offenders, offenders


# ``SUBSTRING(MD5(<key>), 1, 8)`` with up to three levels of parentheses in the key.
_MD5_PREFIX_SQL = re.compile(
    r"SUBSTRING\s*\(\s*MD5\s*\((?:[^()]|\((?:[^()]|\((?:[^()]|\([^()]*\))*\))*\))*\)"
    r"\s*,\s*1\s*,\s*8\s*\)",
    re.I,
)


def _hash_family_offenders(pkg) -> list[str]:
    """Sites under ``pkg`` that spell out a hash-assignment step
    themselves instead of composing ``functions/sampling.py`` or its
    ``shared_oracles`` twins: the 8-hex md5 prefix, the 80/10/10 label
    rule or the source-mixture weight table."""
    import ast

    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        rel = str(path.relative_to(pkg))
        text = path.read_text()

        def at(m, what):
            offenders.append(f"{rel}:{text.count(chr(10), 0, m.start()) + 1} {what}")

        if rel != "functions/sampling.py":
            for node in ast.walk(ast.parse(text)):
                if not isinstance(node, ast.Call):
                    continue
                func = ast.unparse(node.func)
                args = [ast.unparse(a) for a in node.args]
                if func == "F.substring" and args[:1] and args[0].startswith("F.md5(") and args[1:] == ["1", "8"]:
                    offenders.append(f"{rel}:{node.lineno} F.substring(F.md5(...), 1, 8)")
                if func.endswith("when") and "'train'" in args:
                    offenders.append(f"{rel}:{node.lineno} when(..., 'train')")
        if rel != "operators/shared_oracles.py":
            for m in _MD5_PREFIX_SQL.finditer(text):
                at(m, "SUBSTRING(MD5(...), 1, 8)")
            for m in re.finditer(r"THEN\s+'train'", text, re.I):
                at(m, "THEN 'train'")
            for m in re.finditer(r"[\"']src0[\"']", text):
                at(m, "'src0'")
    return offenders


def test_hash_family_written_once():
    """Each step of the hash-assignment family has one definition: only
    ``functions/sampling.py`` builds the md5 prefix (``md5_prefix``), the
    80/10/10 label (``split_label``) and the weight CASE
    (``mixture_weight``) in Spark, and only ``shared_oracles`` spells out
    their DuckDB twins and the ``SOURCE_WEIGHTS`` table."""
    from pathlib import Path

    offenders = _hash_family_offenders(Path(registry.__file__).resolve().parent)
    assert not offenders, offenders


def _checkout_path_offenders(root) -> list[str]:
    """Files under ``root``'s tools/ and tests/ that name ``root``'s own
    absolute path instead of resolving it from ``__file__``."""
    return [
        str(path.relative_to(root))
        for sub in ("tools", "tests")
        for path in sorted((root / sub).rglob("*"))
        if path.is_file() and path.suffix in (".py", ".sh") and str(root) in path.read_text()
    ]


def test_tools_and_tests_check_their_own_checkout():
    """The tier-1 tools and tests find the engine, the evidence files and
    PLANS.md relative to their own file, so a run from a second checkout
    checks that checkout's code rather than another one's."""
    from pathlib import Path

    offenders = _checkout_path_offenders(Path(__file__).resolve().parents[1])
    assert not offenders, offenders
