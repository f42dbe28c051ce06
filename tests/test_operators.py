"""Operator-level unit tests: hand-computed numerics (entropy/Gini,
histogram buckets), upsert semantics, pagination determinism, dedup
recall — the test strategy SURVEY.md §5 commits to."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from chicago_business_owners_data_engineering_spark.operators.diversity import (
    gini_simpson,
    shannon_entropy,
)
from chicago_business_owners_data_engineering_spark.plans.warehouse import upsert_by_key
from chicago_business_owners_data_engineering_spark.registry import QUERIES


def test_shannon_entropy_hand_computed(spark):
    # distribution a:2 b:1 c:1 → H = -(1/2 log 1/2 + 2 * 1/4 log 1/4) = 1.5 bits
    df = spark.createDataFrame([("a",), ("a",), ("b",), ("c",)], "v string")
    got = shannon_entropy(df, "v").collect()[0]["entropy"]
    assert got == pytest.approx(1.5, abs=1e-6)


def test_entropy_uniform_and_degenerate(spark):
    uniform = spark.createDataFrame([(str(i),) for i in range(8)], "v string")
    assert shannon_entropy(uniform, "v").collect()[0]["entropy"] == pytest.approx(3.0, abs=1e-6)
    degenerate = spark.createDataFrame([("a",)] * 5, "v string")
    assert degenerate and shannon_entropy(degenerate, "v").collect()[0]["entropy"] == pytest.approx(
        0.0, abs=1e-6
    )


def test_gini_simpson_hand_computed(spark):
    # a:2 b:2 → 1 - (0.25 + 0.25) = 0.5
    df = spark.createDataFrame([("a",), ("a",), ("b",), ("b",)], "v string")
    assert gini_simpson(df, "v").collect()[0]["gini"] == pytest.approx(0.5, abs=1e-6)


def test_flagship_histogram_buckets(spark, sf_dir):
    rows = {r["bucket"]: r["num_orders"] for r in
            QUERIES["flagship_ownership_histogram"](spark, sf_dir).collect()}
    # buckets are exactly 1,2,3,4,5+ and cover all orders
    assert set(rows) <= {"1", "2", "3", "4", "5+"}
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    assert sum(rows.values()) == lineitem.select("l_orderkey").distinct().count()


def test_upsert_latest_wins(spark):
    base = spark.createDataFrame([(1, "a", 0), (2, "b", 0)], "k int, v string, ver int")
    updates = spark.createDataFrame([(2, "B", 1), (3, "C", 1)], "k int, v string, ver int")
    out = {r["k"]: r["v"] for r in upsert_by_key(base, updates, ["k"], "ver").collect()}
    assert out == {1: "a", 2: "B", 3: "C"}


def test_upsert_idempotent(spark):
    base = spark.createDataFrame([(1, "a", 0)], "k int, v string, ver int")
    updates = spark.createDataFrame([(1, "A", 1)], "k int, v string, ver int")
    once = upsert_by_key(base, updates, ["k"], "ver")
    twice = upsert_by_key(once, updates, ["k"], "ver")
    assert [tuple(r) for r in twice.collect()] == [(1, "A", 1)]


def test_pagination_deterministic_and_disjoint(spark, sf_dir):
    page = QUERIES["o04_pagination"](spark, sf_dir)
    a = [r["custkey"] for r in page.collect()]
    b = [r["custkey"] for r in page.collect()]
    assert a == b  # stable across executions
    assert a == sorted(a) and len(set(a)) == len(a)


def test_minhash_lsh_finds_known_near_dups(spark):
    """Shingle-LSH on a corpus with planted near-dups: exact copies and
    light edits must surface; unrelated docs must not."""
    from chicago_business_owners_data_engineering_spark.operators.dedup import (
        _shingle_set,
        minhash_lsh_pairs,
    )

    base = "the quick brown fox jumps over the lazy dog near the old river bank every day"
    edited = base.replace("lazy", "sleepy")  # one-word edit
    docs = [
        (0, base),
        (1, base),  # exact copy
        (2, edited),  # near copy
        (3, "completely different words about spark catalyst tungsten codegen shuffles"),
        (4, "another unrelated document mentioning parquet files and column pruning"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string").select(
        "doc_id", _shingle_set(F.col("text")).alias("shingles")
    )
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in minhash_lsh_pairs(df, "doc_id", "shingles", threshold=0.3).collect()
    }
    assert pairs.get((0, 1)) == pytest.approx(1.0)
    assert (0, 2) in pairs or (1, 2) in pairs  # edit survives banding
    assert not any(3 in p or 4 in p for p in pairs)


def test_bucket_pairs_returns_each_pair_once(spark):
    """The band-bucket join collapses a pair colliding in several bands
    to ONE row, never pairs a doc with itself, and keeps the requested
    orientation; with no id predicate it returns every colliding cross
    pair of two disjoint relations once."""
    import operator

    from chicago_business_owners_data_engineering_spark.operators.dedup import (
        bucket_pairs,
    )

    schema = "doc_id long, band_id int, band_hash long"
    bands = spark.createDataFrame(
        [
            # docs 1 and 2 collide in bands 0, 1 and 2
            (1, 0, 10), (2, 0, 10), (1, 1, 11), (2, 1, 11), (1, 2, 12), (2, 2, 12),
            # docs 1 and 3 collide in band 3 only; doc 4 collides with no one
            (1, 3, 13), (3, 3, 13), (4, 0, 99),
        ],
        schema,
    )
    keys = ["band_id", "band_hash"]

    def rows(df):
        return sorted((r["doc_a"], r["doc_b"]) for r in df.collect())

    assert rows(bucket_pairs(bands, bands, keys)) == [(1, 2), (1, 3)]
    assert rows(bucket_pairs(bands, bands, keys, op=operator.gt)) == [(2, 1), (3, 1)]

    probe = spark.createDataFrame([(10, 0, 1), (10, 1, 2), (11, 0, 3)], schema)
    index = spark.createDataFrame(
        [(20, 0, 1), (20, 1, 2), (21, 1, 2), (22, 0, 3), (23, 0, 9)], schema
    )
    assert rows(bucket_pairs(probe, index, keys, op=None)) == [
        (10, 20), (10, 21), (11, 22)
    ]


def test_simhash_identical_sets_collide(spark, sf_dir):
    sim = {r["doc_id"]: r["simhash"] for r in QUERIES["dd05_simhash"](spark, sf_dir).collect()}
    exact = [
        (r["doc_a"], r["doc_b"])
        for r in QUERIES["dd03_jaccard_pairs"](spark, sf_dir).collect()
        if r["jaccard"] >= 0.999
    ]
    for a, b in exact:
        assert sim[a] == sim[b]


def test_ivf_topk_matches_bruteforce_on_probed_cells(spark, sf_dir):
    brute = [r["vec_id"] for r in QUERIES["sim01_bruteforce_topk"](spark, sf_dir).collect()]
    ivf = [r["vec_id"] for r in QUERIES["sim03_ivf_topk"](spark, sf_dir).collect()]
    # approximate search: require substantial overlap with exact top-k
    assert len(set(brute) & set(ivf)) >= 5


def test_countmin_estimates_within_bound(spark, sf_dir):
    """Count-min sketch over-counts by at most eps*N (eps=0.001) with
    high probability, and never under-counts."""
    import duckdb

    from chicago_business_owners_data_engineering_spark import registry

    from chicago_business_owners_data_engineering_spark.operators.extended import (
        a28_raw_estimates,
    )

    est = {k: e for k, e, _ in a28_raw_estimates(spark, sf_dir)}
    exact = dict(
        duckdb.sql(
            f"SELECT o_orderpriority, COUNT(*) FROM '{sf_dir}/orders.parquet' GROUP BY 1"
        ).fetchall()
    )
    n = sum(exact.values())
    assert set(est) == set(exact)
    for k, e in est.items():
        assert exact[k] <= e <= exact[k] + 0.001 * n + 1
    # the registry query's oracle-pinned booleans encode the same bound
    checked = registry.QUERIES["a28_countmin_heavy_hitters"](spark, sf_dir).collect()
    assert {r["o_orderpriority"]: r["exact_count"] for r in checked} == exact
    assert all(r["no_undercount"] and r["within_eps_bound"] for r in checked)


def test_map_value_counts_is_real_map(spark, sf_dir):
    """a25's intermediate is a genuine MapType(String,Long) whose dict
    values equal the flat (priority, status) counts."""
    from pyspark.sql.types import LongType, MapType, StringType

    from chicago_business_owners_data_engineering_spark.operators.aggregates import (
        map_value_counts,
    )

    df = map_value_counts(spark, sf_dir)
    field = dict(zip(df.schema.names, df.schema.fields))["status_counts"]
    assert isinstance(field.dataType, MapType)
    assert isinstance(field.dataType.keyType, StringType)
    assert isinstance(field.dataType.valueType, LongType)

    maps = {r["o_orderpriority"]: r["status_counts"] for r in df.collect()}
    from chicago_business_owners_data_engineering_spark.catalog import load_table

    flat = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority", "o_orderstatus")
        .count()
        .collect()
    )
    for r in flat:
        assert maps[r["o_orderpriority"]][r["o_orderstatus"]] == r["count"]


def test_token_spans_window_semantics(spark):
    """dd09's span generator: n-5 spans of exactly 6 words for an
    n-word doc, consecutive spans overlapping by 5; short docs emit
    nothing; within-doc repeats keep multiplicity."""
    from chicago_business_owners_data_engineering_spark.operators.dedup import (
        SPAN_W,
        _token_spans,
    )

    words = [f"w{i}" for i in range(10)]
    rep = ["a b c d e f a b c d e f"]  # 12 words, repeated 6-gram inside
    df = spark.createDataFrame(
        [(0, " ".join(words)), (1, "too short"), (2, rep[0])], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r["spans"]
        for r in df.select("doc_id", _token_spans(F.col("text")).alias("spans")).collect()
    }
    assert len(got[0]) == 10 - SPAN_W + 1
    for i, s in enumerate(got[0]):
        toks = s.split(" ")
        assert toks == words[i : i + SPAN_W]
    assert got[1] == []
    # the repeated doc emits "a b c d e f" twice (positions 0 and 6)
    assert got[2].count("a b c d e f") == 2


def test_span_dedup_apply_planted_scenario(spark):
    """dd10's library form on a planted corpus: the copied sentence
    vanishes from the copying doc, survives in the earliest doc, an
    exact full duplicate drops out entirely, and untouched docs pass
    through verbatim (lowercased)."""
    from chicago_business_owners_data_engineering_spark.operators.dedup import (
        span_dedup_apply,
    )

    shared = "one two three four five six"  # exactly SPAN_W tokens
    docs = [
        (0, f"{shared} alpha beta gamma delta epsilon zeta"),
        (1, f"prefix p2 p3 p4 p5 p6 {shared}"),  # copies doc 0's sentence
        (2, f"{shared} alpha beta gamma delta epsilon zeta"),  # full dup of 0
        (3, "totally unrelated words here nothing shared at all"),
    ]
    out = {
        r["doc_id"]: (r["n_tokens_kept"], r["dedup_text"])
        for r in span_dedup_apply(
            spark.createDataFrame(docs, "doc_id long, text string")
        ).collect()
    }
    # doc 0: earliest occurrence of every span — fully kept
    assert out[0] == (12, docs[0][1])
    # doc 1: its own prefix survives; the copied sentence is stripped
    assert out[1] == (6, "prefix p2 p3 p4 p5 p6")
    # doc 2: every token covered by duplicated spans — drops out
    assert 2 not in out
    # doc 3: untouched
    assert out[3] == (8, docs[3][1])


def test_char_span_dedup_apply_planted_scenario(spark):
    """dd11's library form: char-granular masking with interval-merge
    rebuild — a copied character run vanishes from the copying doc,
    survives in the earliest doc, a full duplicate drops out, short and
    unique docs pass through verbatim (lowercased)."""
    from chicago_business_owners_data_engineering_spark.operators.dedup import (
        char_span_dedup_apply,
    )

    shared = "the quick brown fox jumps over the lazy dog"  # 43 chars
    docs = [
        (0, f"{shared} UNIQUE-TAIL-ZERO-000000"),
        (1, f"own-prefix-unlike-any! {shared}"),  # copies doc 0's run
        (2, f"{shared} UNIQUE-TAIL-ZERO-000000"),  # full dup of 0
        (3, "short"),  # under the window width: never masked
        (4, "entirely different characters with no twenty-char overlap"),
    ]
    out = {
        r["doc_id"]: (r["n_chars_kept"], r["dedup_text"])
        for r in char_span_dedup_apply(
            spark.createDataFrame(docs, "doc_id long, text string"), w=20
        ).collect()
    }
    assert out[0] == (len(docs[0][1]), docs[0][1].lower())
    # doc 1: the copied run is masked; its unique prefix survives.
    # Masking covers every position whose 20-char window also occurs in
    # doc 0, i.e. the whole shared suffix plus the window overhang.
    kept1 = out[1][1]
    assert kept1.startswith("own-prefix-unlike-any!")
    assert "quick brown" not in kept1
    assert out[1][0] == len(kept1)
    assert 2 not in out
    assert out[3] == (5, "short")
    assert out[4] == (len(docs[4][1]), docs[4][1].lower())


def test_jaccard_join_prefix_matches_brute_force(spark):
    """dd12's library form must return EXACTLY the brute-force pair set
    (prefix filtering is lossless, unlike LSH) — including a boundary
    pair at J = 0.8 exactly, and across duplicate sets."""
    from chicago_business_owners_data_engineering_spark.operators.dedup import (
        jaccard_join_prefix,
    )

    sets = {
        0: ["a", "b", "c", "d", "e"],
        1: ["a", "b", "c", "d"],          # J(0,1) = 4/5 = 0.8 exactly
        2: ["a", "b", "c", "x"],          # J(1,2) = 3/5; J(0,2) = 3/6
        3: ["p", "q", "r", "s", "t"],
        4: ["p", "q", "r", "s", "t"],     # J(3,4) = 1.0
        5: ["zz"],                         # singleton
        6: ["zz"],                         # J(5,6) = 1.0
        7: ["m", "n"],
    }
    expected = set()
    for i in sets:
        for j in sets:
            if i < j:
                inter = len(set(sets[i]) & set(sets[j]))
                union = len(set(sets[i]) | set(sets[j]))
                if inter / union >= 0.8:
                    expected.add((i, j))
    df = spark.createDataFrame(
        [(k, sorted(v)) for k, v in sets.items()], "doc_id long, ws array<string>"
    )
    got = {(r.doc_a, r.doc_b) for r in jaccard_join_prefix(df).collect()}
    assert got == expected
    assert (0, 1) in got  # the exact-boundary pair survived integer math


# --- round-4 additions: dq09 / ml05 / dd13 ----------------------------------


def _write_events(spark, tmp_path, ref_vals, cur_vals):
    rows = [(float(v), "2024-01-10 00:00:00") for v in ref_vals] + [
        (float(v), "2024-01-20 00:00:00") for v in cur_vals
    ]
    df = spark.createDataFrame(rows, "value double, ts_s string").select(
        "value", F.col("ts_s").cast("timestamp").alias("ts")
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    return str(tmp_path)


def test_mann_whitney_planted_shift(spark, tmp_path):
    """dq09: a pure location shift drives AUC to the extreme and signs
    the z-statistic; identical distributions give AUC 0.5 and z == 0."""
    q = QUERIES["dq09_mann_whitney"]
    # cur shifted UP: every ref value ranks below every cur value
    r = q(spark, _write_events(spark, tmp_path, [1, 2, 3, 4], [11, 12, 13])).collect()[0]
    assert (r.n_ref, r.n_cur) == (4, 3)
    assert r.u2_stat == 0 and r.auc == 0.0 and r.z_score < 0
    # cur shifted DOWN
    r = q(spark, _write_events(spark, tmp_path, [11, 12, 13, 14], [1, 2, 3])).collect()[0]
    assert r.u2_stat == 2 * 4 * 3 and r.auc == 1.0 and r.z_score > 0
    # identical non-degenerate distributions: dead-center, z exactly 0
    r = q(spark, _write_events(spark, tmp_path, [1, 2, 3, 4], [1, 2, 3, 4])).collect()[0]
    assert r.u2_stat == 4 * 4 and r.auc == 0.5 and r.z_score == 0.0


def test_mann_whitney_hand_computed_ties(spark, tmp_path):
    """dq09 doubled-midrank arithmetic against a by-hand rank table."""
    # ref = [1, 2, 2], cur = [2, 3]; midranks: 1→1, 2→3, 3→5
    # W_ref = 1 + 3 + 3 = 7, U_ref = 7 − 3·4/2 = 1 → u2 = 2
    r = QUERIES["dq09_mann_whitney"](
        spark, _write_events(spark, tmp_path, [1, 2, 2], [2, 3])
    ).collect()[0]
    assert (r.n_ref, r.n_cur, r.u2_stat) == (3, 2, 2)
    assert r.auc == round(2 / (2 * 3 * 2), 6)


def test_fasttext_quality_bag_average_invariant(spark, tmp_path):
    """ml05: the score is a bag AVERAGE — repeating a document's text
    leaves score_micro unchanged while n_tokens doubles."""
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma alpha beta gamma")],
        "doc_id long, text string",
    )
    docs.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    rows = {
        r.doc_id: r
        for r in QUERIES["ml05_fasttext_quality"](spark, str(tmp_path)).collect()
    }
    assert rows[2].n_tokens == 2 * rows[1].n_tokens
    assert rows[1].score_micro == rows[2].score_micro
    assert 0 <= rows[1].score_micro <= 100_000_000
    assert rows[1].label in ("keep", "drop")


def test_containment_join_directed_asymmetry(spark):
    """dd13's geometry: a small set fully inside a large one scores
    containment 1.0 in that direction only — the pair Jaccard hides."""
    from chicago_business_owners_data_engineering_spark.operators.dedup import (
        containment_join_prefix,
    )

    big = [f"tok{i}" for i in range(40)]
    df = spark.createDataFrame(
        [(1, big[:8]), (2, big)],  # doc 1 ⊂ doc 2; J = 8/40 = 0.2
        "doc_id long, ws array<string>",
    )
    got = {(r.doc_a, r.doc_b): r.containment for r in containment_join_prefix(df).collect()}
    assert got == {(1, 2): 1.0}


def test_bpe_merges_hand_computed(spark, tmp_path):
    """tx14 against by-hand BPE: the wrapped-token replace must merge
    ADJACENT runs correctly (aaaa → aa,aa — the case space-joined
    replace under-merges), weight pairs by word frequency, tie-break
    lexicographically, and degrade gracefully when pairs run out."""
    docs = spark.createDataFrame(
        [(1, "aaaa"), (2, "ab ab ab")], "doc_id long, text string"
    )
    docs.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    rows = [
        (r.step, r.left, r.right, r.merged, r.pair_count)
        for r in QUERIES["tx14_bpe_merges"](spark, str(tmp_path)).collect()
    ]
    assert rows == [
        # (a,a) ties (a,b) at 3 — lexicographic r breaks it; the run
        # 'aaaa' must yield TWO merged pairs next round, not one
        (1, "a", "a", "aa", 3),
        (2, "a", "b", "ab", 3),
        (3, "aa", "aa", "aaaa", 1),
        # rounds 4-5 find no pairs left: no rows, no crash
    ]


def test_bpe_tokenize_compression_bounds(spark, sf_dir):
    """tx15: merges only ever shrink — per doc, n_words ≤ n_bpe_tokens
    ≤ n_chars, with strict global shrinkage vs characters once any
    merge applies."""
    rows = QUERIES["tx15_bpe_tokenize"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_words <= r.n_bpe_tokens <= r.n_chars
    assert sum(r.n_bpe_tokens for r in rows) < sum(r.n_chars for r in rows)


def test_mad_outliers_hand_computed(spark, tmp_path):
    """dq10 against a by-hand grid median/MAD: values [1,2,2,3,100] →
    lower-median bin 2, MAD 1, one point beyond the 3·MAD fence."""
    rows = [(float(v), "2024-01-10 00:00:00", "x") for v in (1, 2, 2, 3, 100)]
    df = spark.createDataFrame(rows, "value double, ts_s string, event_type string")
    df.select(
        "value", F.col("ts_s").cast("timestamp").alias("ts"), "event_type"
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    r = QUERIES["dq10_mad_outliers"](spark, str(tmp_path)).collect()
    assert [(x.event_type, x.n, x.med_bin, x.mad_bins, x.n_outliers) for x in r] == [
        ("x", 5, 2, 1, 1)
    ]


def test_seasonal_naive_backtest_hand_computed(spark, tmp_path):
    """ts09 against a by-hand backtest: three daily observations give
    two scored points; a missing 24h-ago hour scores nothing."""
    rows = [
        (100.0, "2024-01-01 00:30:00", "x"),
        (150.0, "2024-01-02 00:30:00", "x"),
        (130.0, "2024-01-03 00:30:00", "x"),
        # isolated observation: no 24h-ago partner, never scored
        (999.0, "2024-02-01 12:00:00", "y"),
    ]
    df = spark.createDataFrame(rows, "value double, ts_s string, event_type string")
    df.select(
        "value", F.col("ts_s").cast("timestamp").alias("ts"), "event_type"
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    out = {
        r.event_type: (r.n_points, r.sae_cents, r.wape)
        for r in QUERIES["ts09_seasonal_naive_backtest"](spark, str(tmp_path)).collect()
    }
    # |15000-10000| + |13000-15000| = 7000; denom 15000+13000
    assert out == {"x": (2, 7000, round(7000 / 28000, 6))}


def test_benford_digits_hand_computed(spark, tmp_path):
    """dq11: integer-cent digit extraction (0.09 → cents 9 → digit 9),
    sub-cent and nonpositive values excluded, chi-square vs the
    Python-recomputed 9-term formula."""
    from chicago_business_owners_data_engineering_spark.operators.curation import (
        BENFORD_P,
    )

    vals = [d / 100 for d in range(1, 10)]  # one observation per digit
    vals += [0.001, 0.0, -5.0]  # rounds to 0 cents / nonpositive: all excluded
    rows = [(float(v), "2024-01-10 00:00:00", "x") for v in vals]
    df = spark.createDataFrame(rows, "value double, ts_s string, event_type string")
    df.select(
        "value", F.col("ts_s").cast("timestamp").alias("ts"), "event_type"
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    r = QUERIES["dq11_benford_digits"](spark, str(tmp_path)).collect()[0]
    assert r.n == 9
    assert [r[f"c{d}"] for d in range(1, 10)] == [1] * 9
    chi2 = sum((1 - 9 * p) ** 2 / (9 * p) for p in BENFORD_P)
    assert r.chi2 == round(chi2, 4)
    assert r.reject == (chi2 > 15.507)


def test_threshold_sweep_confusion_identities(spark, sf_dir):
    """ml06: each operating point partitions the corpus (cells sum to
    n_docs); raising the threshold can only shrink the predicted-
    positive set (tp and fp non-increasing)."""
    rows = QUERIES["ml06_threshold_sweep"](spark, sf_dir).collect()
    from chicago_business_owners_data_engineering_spark.catalog import load_table

    total = load_table(spark, sf_dir, "documents").count()
    assert [r.threshold for r in rows] == sorted(r.threshold for r in rows)
    for r in rows:
        assert r.tp + r.fp + r.fn + r.tn == total
    for a, b in zip(rows, rows[1:]):
        assert b.tp <= a.tp and b.fp <= a.fp


def test_ab_readout_hand_computed(spark, tmp_path):
    """ab01 on a planted experiment: assignment is the md5 parity of
    the user id (recomputed independently here), conversion is
    any-purchase, and the degenerate nobody-converts case yields a
    NULL z instead of an error."""
    import hashlib

    def variant(uid):
        return int(hashlib.md5(str(uid).encode()).hexdigest()[:8], 16) % 2

    # users 1..10: even-indexed convert
    rows = []
    for uid in range(1, 11):
        rows.append((float(uid), "2024-01-10 00:00:00", uid, "view"))
        if uid % 2 == 0:
            rows.append((float(uid), "2024-01-10 01:00:00", uid, "purchase"))
    df = spark.createDataFrame(
        rows, "value double, ts_s string, user_id long, event_type string"
    )
    df.select(
        "value", F.col("ts_s").cast("timestamp").alias("ts"), "user_id", "event_type"
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    r = QUERIES["ab01_experiment_readout"](spark, str(tmp_path)).collect()[0]
    n_a = sum(1 for u in range(1, 11) if variant(u) == 0)
    conv_a = sum(1 for u in range(1, 11) if variant(u) == 0 and u % 2 == 0)
    assert (r.n_a, r.conv_a) == (n_a, conv_a)
    assert r.n_a + r.n_b == 10 and r.conv_a + r.conv_b == 5

    # nobody converts: pooled p = 0 -> NULL z, no divide-by-zero error
    df2 = spark.createDataFrame(
        [(1.0, "2024-01-10 00:00:00", u, "view") for u in range(1, 5)],
        "value double, ts_s string, user_id long, event_type string",
    )
    df2.select(
        "value", F.col("ts_s").cast("timestamp").alias("ts"), "user_id", "event_type"
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    r2 = QUERIES["ab01_experiment_readout"](spark, str(tmp_path)).collect()[0]
    assert r2.conv_a == 0 and r2.conv_b == 0 and r2.z_score is None


def test_collocations_hand_computed(spark, tmp_path):
    """tx16 against a by-hand PMI table: a pair that always co-occurs
    ranks above a pair diluted by independent occurrences of its words,
    and pairs under the count floor never appear."""
    # "strong glue" appears 5x and its words appear ONLY together
    # (c_xy=5, c_x=c_y=5). "weak tie" appears 5x but "weak" and "tie"
    # each appear 5 more times alone. "rare pair" appears once (< floor).
    doc = " ".join(
        ["strong glue"] * 5 + ["weak tie"] * 5 + ["weak", "tie"] * 5 + ["rare pair"]
    )
    spark.createDataFrame(
        [(1, doc, "en", "src", len(doc))],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    rows = QUERIES["tx16_collocations"](spark, str(tmp_path)).collect()
    got = {r.bigram: (r.c_xy, r.lift_micro) for r in rows}
    assert "rare pair" not in got  # under COLLOC_MIN_COUNT
    n = len(doc.split(" "))
    # exact integer replays of the lift arithmetic
    assert got["strong glue"] == (5, 5 * 1_000_000 // 5 * n // 5)
    assert got["weak tie"][0] >= 5
    assert got["strong glue"][1] > got["weak tie"][1]


def test_key_discovery_hand_computed(spark, tmp_path):
    """dq12 on a planted table: the true key flags is_key, a column
    with a null never does even at full cardinality, and the composite
    rescues a non-unique pair of singles."""
    rows = [
        (1, 10, "A", 5.0, "2024-01-01 00:00:00", "P1"),
        (2, 10, "B", 6.0, "2024-01-02 00:00:00", "P2"),
        (3, 11, None, 7.0, "2024-01-01 00:00:00", "P3"),
    ]
    df = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate_s string, o_orderpriority string",
    ).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        F.col("o_orderdate_s").cast("timestamp").alias("o_orderdate"),
        "o_orderpriority",
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    got = {r.column_name: r for r in QUERIES["dq12_key_discovery"](spark, str(tmp_path)).collect()}
    assert got["o_orderkey"].is_key
    assert got["o_orderpriority"].is_key  # 3 distinct, no nulls
    # o_orderstatus: 2 distinct non-null values + 1 null -> not a key
    assert got["o_orderstatus"].n_distinct == 2
    assert got["o_orderstatus"].n_nulls == 1
    assert not got["o_orderstatus"].is_key
    # o_custkey alone repeats; o_orderdate alone repeats; the composite
    # (custkey, orderdate) is unique
    assert not got["o_custkey"].is_key
    assert not got["o_orderdate"].is_key
    assert got["o_custkey+o_orderdate"].is_key
    assert got["o_custkey"].distinct_micro == 2 * 1_000_000 // 3


def test_key_discovery_composite_null_propagates(spark, tmp_path):
    """dq12's composite candidate must null-PROPAGATE like the oracle's
    `CAST(a)||'|'||CAST(b)`: a NULL in either composite column makes the
    whole candidate NULL (counted in n_nulls, excluded from n_distinct),
    not a shorter concat_ws string."""
    rows = [
        (1, 10, "A", 5.0, "2024-01-01 00:00:00", "P1"),
        (2, None, "B", 6.0, "2024-01-02 00:00:00", "P2"),  # null custkey
        (3, 11, "C", 7.0, None, "P3"),  # null orderdate
    ]
    df = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate_s string, o_orderpriority string",
    ).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        F.col("o_orderdate_s").cast("timestamp").alias("o_orderdate"),
        "o_orderpriority",
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    got = {
        r.column_name: r
        for r in QUERIES["dq12_key_discovery"](spark, str(tmp_path)).collect()
    }
    comp = got["o_custkey+o_orderdate"]
    assert comp.n_nulls == 2  # rows 2 and 3 both null-propagate
    assert comp.n_distinct == 1  # only row 1 yields a non-null composite
    assert not comp.is_key


def test_l_diversity_flags_homogeneous_class(spark, tmp_path):
    """dq13 on a planted table: a big-but-homogeneous class fails (the
    homogeneity attack k-anonymity misses) while a small diverse class
    passes."""
    from chicago_business_owners_data_engineering_spark.operators.curation import (
        L_DIVERSITY,
    )

    rows = []
    # class A: 10 rows, ALL in the same $500 balance bucket -> n_sensitive 1
    for i in range(10):
        rows.append((i, f"c{i}", 1, 100.0 + i, "AUTOMOBILE"))
    # class B: L_DIVERSITY distinct buckets -> passes
    for i in range(L_DIVERSITY):
        rows.append((100 + i, f"d{i}", 2, 500.0 * i + 1.0, "AUTOMOBILE"))
    spark.createDataFrame(
        rows, "c_custkey long, c_name string, c_nationkey long, c_acctbal double, c_mktsegment string"
    ).write.mode("overwrite").parquet(str(tmp_path / "customer.parquet"))
    got = {
        (r.c_mktsegment, r.c_nationkey): (r.n_rows, r.n_sensitive)
        for r in QUERIES["dq13_l_diversity"](spark, str(tmp_path)).collect()
    }
    assert got == {("AUTOMOBILE", 1): (10, 1)}


def test_ngram_novelty_hand_computed(spark, tmp_path):
    """dd14 on a planted corpus: the first doc is 100% novel, an exact
    copy later is 0% novel, a half-overlapping doc scores its exact
    fraction, and 2-word / 1-word / empty docs are absent (the 1-word
    case would throw a negative-length slice without the clamp)."""
    rows = [
        (1, "a b c d", "en", "s", 7),     # shingles: "a b c", "b c d" -> both novel
        (2, "a b c d", "en", "s", 7),     # exact copy -> 0 novel
        (3, "b c d e", "en", "s", 7),     # "b c d" seen (doc 1), "c d e" novel
        (4, "x y", "en", "s", 3),         # shingle-less -> absent
        (5, "solo", "en", "s", 4),        # 1 word: slice len would be -1 unclamped
        (6, "", "en", "s", 0),            # empty text
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = {
        r.doc_id: (r.n_shingles, r.n_novel, r.novelty_pct)
        for r in QUERIES["dd14_ngram_novelty"](spark, str(tmp_path)).collect()
    }
    assert got[1] == (2, 2, 100.0)
    assert got[2] == (2, 0, 0.0)
    assert got[3] == (2, 1, 50.0)
    assert 4 not in got
    assert 5 not in got
    assert 6 not in got


def test_referential_orphans_planted(spark, tmp_path):
    """dq14 on a planted web: one orphaned customer FK is counted, the
    intact nation edge reports zero."""
    spark.createDataFrame(
        [(1, "c1", 10, 0.0, "B"), (2, "c2", 99, 0.0, "B")],
        "c_custkey long, c_name string, c_nationkey long, c_acctbal double,"
        " c_mktsegment string",
    ).write.mode("overwrite").parquet(str(tmp_path / "customer.parquet"))
    spark.createDataFrame(
        [(10, "GERMANY", 1)], "n_nationkey long, n_name string, n_regionkey long"
    ).write.mode("overwrite").parquet(str(tmp_path / "nation.parquet"))
    # empty-but-typed remaining tables so every leg runs
    spark.createDataFrame(
        [], "l_orderkey long, l_partkey long, l_suppkey long"
    ).write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    spark.createDataFrame([], "o_orderkey long, o_custkey long").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "orders.parquet"))
    spark.createDataFrame([], "p_partkey long").write.mode("overwrite").parquet(
        str(tmp_path / "part.parquet")
    )
    spark.createDataFrame([], "s_suppkey long").write.mode("overwrite").parquet(
        str(tmp_path / "supplier.parquet")
    )
    got = {
        r.fk_name: (r.n_rows, r.n_orphans, r.intact)
        for r in QUERIES["dq14_referential_orphans"](spark, str(tmp_path)).collect()
    }
    assert got["customer.c_nationkey"] == (2, 1, False)
    assert got["lineitem.l_orderkey"] == (0, 0, True)
    assert len(got) == 5


def test_reliability_bins_partition_and_consistency(spark, sf_dir):
    """ml08's bins partition the scored corpus exactly (Σ n_docs equals
    ml05's row count), every bin's rate is n_pos/n_docs, and bin ids
    are the floor-decile of scores ml05 actually produced."""
    from chicago_business_owners_data_engineering_spark.operators.clustering import (
        ML08_BIN_MICRO,
        ml05_fasttext_quality,
        ml08_reliability_bins,
    )

    bins = ml08_reliability_bins(spark, sf_dir).collect()
    scored = ml05_fasttext_quality(spark, sf_dir).collect()
    assert sum(b.n_docs for b in bins) == len(scored)
    expected_bins = {s.score_micro // ML08_BIN_MICRO for s in scored}
    assert {b.bin for b in bins} == expected_bins
    for b in bins:
        assert 0 <= b.n_pos <= b.n_docs
        assert b.observed_rate == round(b.n_pos / b.n_docs, 6)


def test_ivf_recall_eval_internal_consistency(spark, sf_dir):
    """sim15's report reconciles against independently recomputed exact
    and IVF top-k sets for every panel query."""
    from chicago_business_owners_data_engineering_spark.operators.similarity import (
        RECALL_NPROBE,
        RECALL_QUERY_MAX,
        RECALL_QUERY_MOD,
        TOP_K,
        sim15_ivf_recall_eval,
    )
    import numpy as np

    from chicago_business_owners_data_engineering_spark.catalog import load_table

    rows = load_table(spark, sf_dir, "embeddings").collect()
    vecs = {r.vec_id: (np.array(r.embedding, dtype=float), r.label) for r in rows}
    qids = [v for v in vecs if v % RECALL_QUERY_MOD == 0 and v <= RECALL_QUERY_MAX]
    labels = sorted({l for _, l in vecs.values()})
    cents = {
        l: np.mean([v for v, lab in vecs.values() if lab == l], axis=0)
        for l in labels
    }

    def cos(a, b):
        return float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b)))

    got = {r.qid: r for r in sim15_ivf_recall_eval(spark, sf_dir).collect()}
    assert set(got) == set(qids)
    for qid in qids:
        qv = vecs[qid][0]
        probe = sorted(labels, key=lambda l: (-cos(cents[l], qv), l))[:RECALL_NPROBE]
        ranked = sorted(
            ((round(cos(v, qv), 6), vid, lab) for vid, (v, lab) in vecs.items() if vid != qid),
            key=lambda t: (-t[0], t[1]),
        )
        exact = {vid for _, vid, _ in ranked[:TOP_K]}
        ivf = [t for t in ranked if t[2] in probe][:TOP_K]
        hits = exact & {vid for _, vid, _ in ivf}
        r = got[qid]
        assert r.n_exact == len(exact)
        assert r.n_hits == len(hits)
        assert r.recall_pct == round(100.0 * len(hits) / len(exact), 4)


def test_string_agg_deterministic_and_sorted(spark, sf_dir):
    """a30's list is the sorted-distinct contract regardless of
    partitioning: repartitioned input yields the identical strings."""
    from chicago_business_owners_data_engineering_spark.operators.aggregates import (
        a30_grouped_string_agg,
    )
    from chicago_business_owners_data_engineering_spark.catalog import load_table

    got = {r.c_mktsegment: r.nation_list for r in a30_grouped_string_agg(spark, sf_dir).collect()}
    cust = load_table(spark, sf_dir, "customer").repartition(13, "c_custkey")
    re = {
        r.c_mktsegment: r.nation_list
        for r in cust.groupBy("c_mktsegment")
        .agg(
            F.array_join(
                F.array_sort(F.collect_set(F.col("c_nationkey").cast("string"))), ","
            ).alias("nation_list")
        )
        .collect()
    }
    assert got == re
    for seg, lst in got.items():
        parts = lst.split(",")
        assert parts == sorted(set(parts))


def test_null_safe_join_matches_null_bucket(spark, sf_dir):
    """j12's NULL row equals |customers in nation 0| × |suppliers in
    nation 0| — the pairs a plain equi-join silently drops."""
    from chicago_business_owners_data_engineering_spark.catalog import load_table

    nc = load_table(spark, sf_dir, "customer").filter(F.col("c_nationkey") == 0).count()
    ns = load_table(spark, sf_dir, "supplier").filter(F.col("s_nationkey") == 0).count()
    rows = {r.nation_key: r.n_pairs for r in QUERIES["j12_null_safe_join"](spark, sf_dir).collect()}
    if nc and ns:
        assert rows["NULL"] == nc * ns
    else:
        assert "NULL" not in rows


def test_simhash_hamming_pairs_pigeonhole_exact(spark, sf_dir):
    """dd15's banding loses NOTHING: the pair set equals a brute-force
    hamming sweep over dd05's fingerprints, and every reported distance
    is the true popcount."""
    from chicago_business_owners_data_engineering_spark.operators.dedup import (
        HAMMING_MAX,
        dd05_simhash,
        dd15_simhash_hamming_pairs,
    )

    fps = {r.doc_id: r.simhash for r in dd05_simhash(spark, sf_dir).collect()}
    ids = sorted(fps)
    brute = {
        (a, b): bin(fps[a] ^ fps[b]).count("1")
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin(fps[a] ^ fps[b]).count("1") <= HAMMING_MAX
    }
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in dd15_simhash_hamming_pairs(spark, sf_dir).collect()
    }
    assert got == brute
    assert got, "corpus has planted duplicates; pair set must be non-empty"


def test_id_gap_islands_hand_computed(spark, tmp_path):
    """f25 on a planted sequence: keys {1,2,5,6,10} yield gaps (3,4)
    and (7,9), widest first."""
    rows = [(k, 1, "F", 1.0, "2024-01-01 00:00:00", "P") for k in (1, 2, 5, 6, 10)]
    rows.append((3, 1, "O", 1.0, "2024-01-01 00:00:00", "P"))  # non-F: invisible
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate_s string, o_orderpriority string",
    ).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        F.col("o_orderdate_s").cast("timestamp").alias("o_orderdate"),
        "o_orderpriority",
    ).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    got = [
        (r.gap_start, r.gap_end, r.gap_len)
        for r in QUERIES["f25_id_gap_islands"](spark, str(tmp_path)).collect()
    ]
    assert got == [(7, 9, 3), (3, 4, 2)]


def test_mon02_burn_rate_invariants(spark, sf_dir):
    """Window sums dominate their 1h legs, errors never exceed totals,
    and the fast-page threshold (30%) strictly nests inside the
    slow-ticket one (25%) — every paged hour is also ticketed."""
    rows = QUERIES["mon02_slo_burn_rate"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r["err_1h"] <= r["tot_1h"]
        assert r["err_6h"] >= r["err_1h"] and r["tot_6h"] >= r["tot_1h"]
        if r["fast_burn_page"]:
            assert r["slow_burn_ticket"]
        # flags replay the integer cross-multiplication exactly
        assert r["slow_burn_ticket"] == (
            4 * r["err_1h"] > r["tot_1h"] and 4 * r["err_6h"] > r["tot_6h"]
        )


def test_dq15_detects_planted_drift(spark, sf_dir):
    """The old snapshot plants NULL o_orderpriority rows (%83) absent
    from the new one — dq15 must flag exactly that null-rate drift and
    no spurious one on the never-null columns."""
    rows = {r["col_name"]: r for r in QUERIES["dq15_profile_drift"](spark, sf_dir).collect()}
    assert set(rows) == {"o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"}
    assert rows["o_orderpriority"]["old_nulls"] > 0
    assert rows["o_orderpriority"]["new_nulls"] == 0
    assert rows["o_orderpriority"]["null_rate_changed"]
    for c in ("o_custkey", "o_orderstatus", "o_totalprice"):
        assert rows[c]["old_nulls"] == 0 and rows[c]["new_nulls"] == 0
        assert not rows[c]["null_rate_changed"]


def test_inc04_probe_equals_full_rebuild_restricted(spark, sf_dir):
    """Incremental-maintenance law: probing the standing index with the
    delta emits exactly the delta-touching subset of a full dd04
    rebuild — nothing missed, nothing extra, same Jaccard values."""
    from chicago_business_owners_data_engineering_spark.operators.incremental import (
        INC04_DELTA_MOD,
    )

    full = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in QUERIES["dd04_minhash_lsh_pairs"](spark, sf_dir).collect()
        if r["doc_a"] % INC04_DELTA_MOD == 0 or r["doc_b"] % INC04_DELTA_MOD == 0
    }
    inc = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in QUERIES["inc04_incremental_neardup_probe"](spark, sf_dir).collect()
    }
    assert inc == full


def test_st03_funnel_monotone_and_ordered(spark, sf_dir):
    """Funnel widths shrink monotonically, and the ordered counts are
    bounded by the unordered 'did each event type at all' counts."""
    rows = {r["stage"]: r["users"] for r in QUERIES["st03_funnel_conversion"](spark, sf_dir).collect()}
    assert set(rows) == {"1_view", "2_click_after_view", "3_purchase_after_click"}
    assert rows["1_view"] >= rows["2_click_after_view"] >= rows["3_purchase_after_click"]
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    any_click = (
        events.filter(F.col("event_type") == "click").select("user_id").distinct().count()
    )
    assert rows["2_click_after_view"] <= any_click


def test_ab02_srm_fair_split_and_detection(spark, sf_dir):
    """The md5 splitter is fair on this corpus (no SRM alarm), the
    counts tie out, and the 4-sigma integer test replays exactly."""
    r = QUERIES["ab02_srm_check"](spark, sf_dir).collect()[0]
    assert r["n_a"] + r["n_b"] == r["n"]
    assert r["delta"] == r["n_a"] - r["n_b"]
    assert r["srm_suspect"] == (r["delta"] * r["delta"] > 16 * r["n"])
    assert not r["srm_suspect"]  # md5 assignment is fair here


def test_tx17_repetition_signals_planted(spark, tmp_path):
    """Planted boilerplate: a doc that is one word repeated trips all
    three flags; a diverse doc trips none; a one-word doc is safe
    (no negative-length bigram slice, top_bigram_n = 0)."""
    docs = [
        (1, "spam spam spam spam spam spam spam spam spam spam"),
        (2, "the quick brown fox jumps over one lazy dog today"),
        (3, "single"),
    ]
    spark.createDataFrame(docs, "doc_id long, text string").withColumn(
        "lang", F.lit("en")
    ).withColumn("source", F.lit("t")).withColumn(
        "n_chars", F.length("text").cast("long")
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    rows = {
        r["doc_id"]: r
        for r in QUERIES["tx17_repetition_signals"](spark, str(tmp_path)).collect()
    }
    assert rows[1]["top_word_heavy"] and rows[1]["top_bigram_heavy"] and rows[1]["low_diversity"]
    assert not (
        rows[2]["top_word_heavy"] or rows[2]["top_bigram_heavy"] or rows[2]["low_diversity"]
    )
    assert rows[3]["top_bigram_n"] == 0 and rows[3]["n_words"] == 1
    assert not rows[3]["top_bigram_heavy"]


def test_f26_interval_merge_hand_computed(spark, tmp_path):
    """Planted intervals: orders on days 0, 10, 100 for one customer
    (span 30) merge to [0,40] (2 orders) + [100,130]; an engulfing
    pattern (0, 5 when span covers both) stays one island — the case
    plain LAG gets wrong."""
    rows = [
        (1, 100, "O", 1.0, "1970-01-01 00:00:00", "P"),
        (2, 100, "O", 1.0, "1970-01-11 00:00:00", "P"),
        (3, 100, "O", 1.0, "1970-04-11 00:00:00", "P"),  # day 100
        (4, 200, "O", 1.0, "1970-01-01 00:00:00", "P"),
        (5, 200, "O", 1.0, "1970-01-06 00:00:00", "P"),  # engulfed
    ]
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate_s string, o_orderpriority string",
    ).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        F.col("o_orderdate_s").cast("timestamp").alias("o_orderdate"),
        "o_orderpriority",
    ).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    got = [
        (r["custkey"], r["island_id"], r["start_day"], r["end_day"], r["n_orders"])
        for r in QUERIES["f26_interval_merge"](spark, str(tmp_path)).collect()
    ]
    assert got == [(100, 1, 0, 40, 2), (100, 2, 100, 130, 1), (200, 1, 0, 35, 2)]


def test_st04_cohort_retention_invariants(spark, sf_dir):
    """Offset-0 cell of each cohort equals its cohort size, offsets are
    non-negative, and total offset-0 customers equals distinct buyers."""
    rows = QUERIES["st04_cohort_retention"](spark, sf_dir).collect()
    assert rows and all(r["month_offset"] >= 0 for r in rows)
    by_cohort = {}
    for r in rows:
        by_cohort.setdefault(r["cohort_month"], {})[r["month_offset"]] = r["n_customers"]
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    n_buyers = orders.select("o_custkey").distinct().count()
    assert sum(c[0] for c in by_cohort.values()) == n_buyers
    for c in by_cohort.values():
        assert all(v <= c[0] for v in c.values())  # no offset outgrows the cohort


def test_er05_blocking_quality_bounds(spark, sf_dir):
    """Counts nest (found <= candidates, found <= truth), the metrics
    replay their integer definitions, and blocking eliminates >90% of
    the comparison space. Completeness < 1 is the READOUT working:
    name variants whose edit sits in the product noun are exactly
    what noun-blocking loses."""
    r = QUERIES["er05_blocking_quality"](spark, sf_dir).collect()[0]
    assert r["found_matches"] <= r["candidate_pairs"]
    assert 0 < r["found_matches"] <= r["true_matches"]
    assert 0 < r["pair_completeness"] <= 1.0
    assert r["reduction_ratio"] > 0.9
    n = r["n_records"]
    assert r["reduction_ratio"] == round(1.0 - 2.0 * r["candidate_pairs"] / (n * (n - 1)), 6)


def test_mon03_freshness_planted_stale_feed(spark, tmp_path):
    """A feed that stopped 3h before the corpus head is stale; the feed
    defining the head has lag 0 and is fresh."""
    import datetime

    rows = [
        (1, datetime.datetime(2024, 5, 1, 12, 0, 0), 1, "view", 1.0, None),
        (2, datetime.datetime(2024, 5, 1, 9, 0, 0), 2, "error", 1.0, None),
        (3, datetime.datetime(2024, 5, 1, 11, 30, 0), 3, "view", 1.0, None),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    got = {r["event_type"]: r for r in QUERIES["mon03_freshness_lag"](spark, str(tmp_path)).collect()}
    assert got["view"]["lag_minutes"] == 0 and not got["view"]["is_stale"]
    assert got["error"]["lag_minutes"] == 180 and got["error"]["is_stale"]
    assert got["view"]["n_events"] == 2


def test_ts14_ewma_planted_spike(spark, tmp_path):
    """A flat 100-cent series with one 10x day: the spike day flags
    is_spike (baseline stays ~100), the day AFTER does not flag is_dip
    against the spike-inflated baseline unless it truly drops 30%, and
    day 1 (no history) is excluded."""
    rows = []
    k = 1
    for d in range(1, 15):
        price = 10.0 if d == 10 else 1.0  # cents: 1000 vs 100
        rows.append((k, 1, "O", price, f"2024-01-{d:02d} 00:00:00", "P"))
        k += 1
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate_s string, o_orderpriority string",
    ).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        F.col("o_orderdate_s").cast("timestamp").alias("o_orderdate"),
        "o_orderpriority",
    ).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    got = {r["day"]: r for r in QUERIES["ts14_ewma_anomaly"](spark, str(tmp_path)).collect()}
    assert "2024-01-01" not in got  # no history -> excluded
    assert got["2024-01-10"]["is_spike"] and not got["2024-01-10"]["is_dip"]
    assert got["2024-01-09"]["ewma_cents"] == 100  # flat baseline before the spike
    assert got["2024-01-11"]["is_dip"]  # 100 vs spike-inflated baseline


def test_tp20_overlap_matrix_consistency(spark, sf_dir):
    """Matrix totals equal dd04's pair count; labels are normalized
    (src_a <= src_b); every mean sits in the [0.5, 1] band."""
    rows = QUERIES["tp20_source_overlap_matrix"](spark, sf_dir).collect()
    assert rows
    assert all(r["src_a"] <= r["src_b"] for r in rows)
    assert all(0.5 <= r["avg_jaccard"] <= 1.0 for r in rows)
    total = sum(r["n_pairs"] for r in rows)
    dd04 = QUERIES["dd04_minhash_lsh_pairs"](spark, sf_dir).count()
    assert total == dd04


def test_f27_time_to_convert_bounds(spark, sf_dir):
    """Quartiles are ordered and non-negative; converted count matches
    st03's purchase stage (same chain, click stage skipped -> >=)."""
    r = QUERIES["f27_time_to_convert"](spark, sf_dir).collect()[0]
    assert 0 <= r["p25_min"] <= r["p50_min"] <= r["p75_min"]
    st03 = {x["stage"]: x["users"] for x in QUERIES["st03_funnel_conversion"](spark, sf_dir).collect()}
    assert r["n_converted"] >= st03["3_purchase_after_click"]


TOKENIZER_CASES = ["", " ", "a  b", " Lead trail ", "MiXeD Case", "tab\there", None]


def test_tokenizer_twins_agree(spark):
    """``words()`` and the whitespace split give the same lists and
    counts in Spark as ``words_sql``/``WS_TOKENS_SQL`` in DuckDB on the
    edge cases the ASCII, single-spaced, lowercase corpus never shows:
    empty and blank text, repeated/leading/trailing spaces, mixed case,
    a tab and NULL."""
    import duckdb

    from chicago_business_owners_data_engineering_spark.functions.text import (
        words,
        ws_tokens,
    )
    from chicago_business_owners_data_engineering_spark.operators.shared_oracles import (
        WS_TOKENS_SQL,
        words_sql,
    )

    rows = list(enumerate(TOKENIZER_CASES))
    df = spark.createDataFrame(rows, "id int, text string")
    got = {
        r["id"]: (r["w"], r["t"], r["n"])
        for r in df.select(
            "id",
            words().alias("w"),
            ws_tokens().alias("t"),
            F.size(ws_tokens()).alias("n"),
        ).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE docs (id INTEGER, text VARCHAR)")
    con.executemany("INSERT INTO docs VALUES (?, ?)", rows)
    want = {
        i: (w, t, n)
        for i, w, t, n in con.execute(
            f"SELECT id, {words_sql()}, {WS_TOKENS_SQL}, LEN({WS_TOKENS_SQL}) FROM docs"
        ).fetchall()
    }
    assert got == want
    assert got[3][0] == ["", "lead", "trail", ""]


HASH_KEYS = {"k string": ["", "split:7", "é"], "k bigint": [-1, 0, 9223372036854775807]}


def test_hash_twins_agree(spark):
    """``md5_prefix`` and ``md5_bucket`` give the same values in Spark as
    ``md5_prefix_sql``/``md5_bucket_sql`` in DuckDB on keys the
    nonnegative fixture ids never show: the empty string, a salted key,
    a non-ASCII character, and negative, zero and maximal BIGINT ids."""
    import duckdb

    from chicago_business_owners_data_engineering_spark.functions.sampling import (
        md5_bucket,
        md5_prefix,
    )
    from chicago_business_owners_data_engineering_spark.operators.shared_oracles import (
        md5_bucket_sql,
        md5_prefix_sql,
    )

    con = duckdb.connect()
    for schema, keys in HASH_KEYS.items():
        rows = list(enumerate(keys))
        got = [
            (r["p"], r["b"])
            for r in spark.createDataFrame(rows, f"id int, {schema}")
            .orderBy("id")
            .select(
                md5_prefix(F.col("k")).alias("p"), md5_bucket(F.col("k"), 100).alias("b")
            )
            .collect()
        ]
        con.execute(f"CREATE OR REPLACE TABLE keys (id INTEGER, {schema})")
        con.executemany("INSERT INTO keys VALUES (?, ?)", rows)
        key = "CAST(k AS VARCHAR)"
        want = con.execute(
            f"SELECT {md5_prefix_sql(key)}, {md5_bucket_sql(key, 100)} FROM keys ORDER BY id"
        ).fetchall()
        assert got == [tuple(w) for w in want]
        if schema == "k string":
            assert got[1] == (1766650486, 86)


def test_hybrid_search_keyword_leg_ignores_case(spark, tmp_path):
    """sim08's keyword overlap uses the family tokenizer: "Spark Join"
    matches the lowercase terms spark and join, so 2 of its 4 terms."""
    from chicago_business_owners_data_engineering_spark.operators.similarity import (
        HYBRID_TERMS,
    )

    spark.createDataFrame(
        [(0, "Spark Join tutorial"), (1, "nothing relevant here")],
        "doc_id long, text string",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "vec_id long, embedding array<float>"
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    lex = {
        r.doc_id: r.lex_score
        for r in QUERIES["sim08_hybrid_search"](spark, str(tmp_path)).collect()
    }
    assert len(HYBRID_TERMS) == 4
    assert lex == {0: 0.5, 1: 0.0}
