"""Property-based tests (hypothesis) for semantics that must hold on
ANY input, not just the shipped test data: chunk coverage, split
determinism, name-composition null handling, entropy math.

Each property batches its generated rows into ONE small Spark job per
example (max_examples kept low — Spark round-trips are the cost)."""

from __future__ import annotations

import math

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from chicago_business_owners_data_engineering_spark.operators.pipeline_ml import (
    CHUNK_SIZE,
    CHUNK_STRIDE,
)
from chicago_business_owners_data_engineering_spark.functions.sampling import md5_bucket as _md5_bucket

SETTINGS = dict(max_examples=8, deadline=None)

texts = st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Lu", "Nd"), max_codepoint=0x7F),
    min_size=1,
    max_size=700,
)


@settings(**SETTINGS)
@given(st.lists(texts, min_size=1, max_size=8))
def test_chunking_covers_every_character(spark, docs):
    """Every character position of every doc appears in ≥1 chunk, chunks
    never exceed CHUNK_SIZE, and consecutive chunks overlap by
    size - stride."""
    df = spark.createDataFrame(
        [(i, t, len(t)) for i, t in enumerate(docs)],
        "doc_id long, text string, n_chars long",
    )
    n_chunks = (
        F.when(F.col("n_chars") <= CHUNK_SIZE, F.lit(1).cast("long"))
        .otherwise(F.ceil((F.col("n_chars") - CHUNK_SIZE) / CHUNK_STRIDE) + 1)
    )
    rows = (
        df.select(
            "doc_id",
            "text",
            F.explode(F.sequence(F.lit(0).cast("long"), n_chunks - 1)).alias("cid"),
        )
        .select(
            "doc_id",
            "cid",
            F.substring(
                F.col("text"), (F.col("cid") * CHUNK_STRIDE + 1).cast("int"), CHUNK_SIZE
            ).alias("chunk"),
        )
        .collect()
    )
    per_doc: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r["doc_id"], r["cid"])):
        per_doc.setdefault(r["doc_id"], []).append(r["chunk"])
    for i, t in enumerate(docs):
        chunks = per_doc[i]
        assert all(len(c) <= CHUNK_SIZE for c in chunks)
        covered = "".join(c[:CHUNK_STRIDE] for c in chunks[:-1]) + chunks[-1]
        assert covered == t


@settings(**SETTINGS)
@given(st.lists(st.integers(min_value=0, max_value=2**62), min_size=1, max_size=50, unique=True))
def test_hash_split_deterministic_partition(spark, keys):
    """Each key lands in exactly one bucket in [0,100), identically on
    every evaluation — independent of row order or partitioning."""
    df1 = spark.createDataFrame([(k,) for k in keys], "k long")
    df2 = spark.createDataFrame([(k,) for k in reversed(keys)], "k long").repartition(7)
    b1 = {r["k"]: r["b"] for r in df1.select("k", _md5_bucket(F.col("k")).alias("b")).collect()}
    b2 = {r["k"]: r["b"] for r in df2.select("k", _md5_bucket(F.col("k")).alias("b")).collect()}
    assert b1 == b2
    assert all(0 <= b < 100 for b in b1.values())


@settings(**SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.one_of(st.none(), texts), st.one_of(st.none(), texts), st.one_of(st.none(), texts)
        ),
        min_size=1,
        max_size=30,
    )
)
def test_concat_ws_skips_nulls_like_reference(spark, parts):
    """concat_ws(" ", first, mi, last) must equal the reference's
    combine_name (join of the non-null parts) for every null pattern
    (cbddl/src/data_ingestion/ingestion_pipeline.py:111-123)."""
    df = spark.createDataFrame(parts, "first string, mi string, last string")
    got = [
        r["full"]
        for r in df.select(F.concat_ws(" ", "first", "mi", "last").alias("full")).collect()
    ]
    expected = [" ".join(p for p in row if p is not None) for row in parts]
    assert got == expected


@settings(**SETTINGS)
@given(st.lists(st.sampled_from("abcde"), min_size=2, max_size=200))
def test_two_stage_entropy_matches_closed_form(spark, values):
    """The composable groupBy→agg Shannon entropy (A16) equals the
    direct -Σ p·log2 p on any categorical sample."""
    df = spark.createDataFrame([(v,) for v in values], "v string")
    counts = df.groupBy("v").agg(F.count("*").alias("c"))
    total = counts.agg(F.sum("c").alias("n"))
    got = (
        counts.crossJoin(total)
        .agg((-F.sum((F.col("c") / F.col("n")) * F.log2(F.col("c") / F.col("n")))).alias("h"))
        .collect()[0]["h"]
    )
    from collections import Counter

    n = len(values)
    expected = -sum((c / n) * math.log2(c / n) for c in Counter(values).values())
    assert abs(got - expected) < 1e-9


@settings(**SETTINGS)
@given(
    st.lists(
        st.tuples(st.sampled_from("xyz"), st.integers(min_value=-1000, max_value=1000)),
        min_size=1,
        max_size=60,
    )
)
def test_salted_agg_equals_plain_groupby(spark, rows):
    """Two-stage salted aggregation must equal the plain GROUP BY for
    any grouping — count and sum are decomposable."""
    df = spark.createDataFrame(rows, "k string, v long")
    plain = {
        r["k"]: (r["n"], r["s"])
        for r in df.groupBy("k").agg(F.count("*").alias("n"), F.sum("v").alias("s")).collect()
    }
    salted = (
        df.withColumn("salt", F.pmod(F.xxhash64("v"), F.lit(4)))
        .groupBy("k", "salt")
        .agg(F.count("*").alias("pn"), F.sum("v").alias("ps"))
        .groupBy("k")
        .agg(F.sum("pn").alias("n"), F.sum("ps").alias("s"))
    )
    got = {r["k"]: (r["n"], r["s"]) for r in salted.collect()}
    assert got == plain


@settings(**SETTINGS)
@given(st.data())
def test_minhash_match_fraction_concentrates_on_jaccard(spark, data):
    """P[min-hash slots agree] = Jaccard(a, b), so with 64 independent
    slots the observed match fraction must land within 4σ
    (σ = √(J(1−J)/64) ≤ 0.0625) of the exact Jaccard — the estimator
    property the whole dd04 LSH path rests on. Exact at the endpoints:
    identical sets ⇒ 1, disjoint sets ⇒ 0 (mod 2⁻⁶⁴ collisions). Checks
    the signature production signs with (``_minhash_per_doc``: slot i is
    min over t of xxhash64(xxhash64(t), i))."""
    from chicago_business_owners_data_engineering_spark.operators.dedup import (
        _minhash_per_doc,
    )

    universe = [f"tok{i}" for i in range(40)]
    a = data.draw(st.sets(st.sampled_from(universe), min_size=3, max_size=30))
    b = data.draw(st.sets(st.sampled_from(universe), min_size=3, max_size=30))
    jac = len(a & b) / len(a | b)
    df = spark.createDataFrame(
        [(0, sorted(a)), (1, sorted(b))], "doc_id long, toks array<string>"
    )
    n = 64
    rows = {
        r["doc_id"]: [r[f"mh{i}"] for i in range(n)]
        for r in _minhash_per_doc(df, "doc_id", "toks", n).collect()
    }
    match = sum(x == y for x, y in zip(rows[0], rows[1])) / n
    assert abs(match - jac) <= 0.25 + 1e-9


@settings(**SETTINGS)
@given(
    st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 20), st.integers(0, 999)),
        min_size=0,
        max_size=25,
    ),
    st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 20), st.integers(0, 999)),
        min_size=0,
        max_size=25,
    ),
)
def test_upsert_latest_wins_and_idempotent(spark, existing, updates):
    """MERGE-substitute laws, for any keyed inputs: (1) result keys =
    keys(existing) ∪ keys(updates); (2) each key carries the highest
    version, updates winning version ties; (3) re-applying the same
    updates changes nothing (idempotence) — the ON CONFLICT DO UPDATE
    re-run behavior the reference relies on (cbddl/src/etl/
    pipeline.py:314-318)."""
    from chicago_business_owners_data_engineering_spark.plans.warehouse import (
        upsert_by_key,
    )

    schema = "k long, version long, payload long"
    # one row per key per side (the dedup-by-key precondition): keep max version
    def dedup(rows):
        best = {}
        for k, v, p in rows:
            if k not in best or (v, p) > best[k]:
                best[k] = (v, p)
        return [(k, v, p) for k, (v, p) in best.items()]

    e_rows, u_rows = dedup(existing), dedup(updates)
    e = spark.createDataFrame(e_rows, schema) if e_rows else spark.createDataFrame([], schema)
    u = spark.createDataFrame(u_rows, schema) if u_rows else spark.createDataFrame([], schema)

    once = upsert_by_key(e, u, keys=["k"], version_col="version")
    got = {r["k"]: (r["version"], r["payload"]) for r in once.collect()}

    expect = {}
    for src, rows in ((0, e_rows), (1, u_rows)):
        for k, v, p in rows:
            if k not in expect or (v, src) > (expect[k][0], expect[k][2]):
                expect[k] = (v, p, src)
    assert got == {k: (v, p) for k, (v, p, _) in expect.items()}

    twice = upsert_by_key(once, u, keys=["k"], version_col="version")
    got2 = {r["k"]: (r["version"], r["payload"]) for r in twice.collect()}
    assert got2 == got


@settings(**SETTINGS)
@given(st.data())
def test_zorder_key_is_monotone_per_dimension(spark, data):
    """Z-curve laws on the quantized grid: the key stays within
    [0, 4^bits), and with one dimension's bucket held fixed the key
    strictly increases in the other dimension's bucket — the property
    that makes per-file z-ranges translate into tight min/max
    envelopes on every clustered column."""
    from chicago_business_owners_data_engineering_spark.sources.lake import zorder_key

    bits = 4
    nb = 2**bits
    # grid-aligned values so width_bucket quantization is exact
    xs = sorted(data.draw(st.sets(st.integers(0, nb - 1), min_size=3, max_size=6)))
    ys = sorted(data.draw(st.sets(st.integers(0, nb - 1), min_size=3, max_size=6)))
    rows = [(x, y) for x in range(nb) for y in range(nb) if x in xs or y in ys]
    df = spark.createDataFrame(rows, "x long, y long")
    out = {
        (r["x"], r["y"]): r["z"]
        for r in df.withColumn("z", zorder_key(df, ["x", "y"], bits=bits)).collect()
    }
    assert all(0 <= z < 4**bits for z in out.values())
    for y in ys:
        keys = [out[(x, y)] for x in range(nb)]
        assert keys == sorted(keys) and len(set(keys)) == nb
    for x in xs:
        keys = [out[(x, y)] for y in range(nb)]
        assert keys == sorted(keys) and len(set(keys)) == nb


@settings(**SETTINGS)
@given(
    st.lists(
        st.tuples(st.integers(0, 10_000), st.sampled_from(["srcA", "srcB"]), st.integers(1, 900)),
        min_size=2,
        max_size=24,
        unique_by=lambda t: t[0],
    )
)
def test_shard_manifest_append_stable(spark, rows):
    """mm05's law: shard assignment of existing docs is unchanged when
    docs with LARGER ids are appended — prefix sums only grow the tail."""
    from pyspark.sql import Window

    budget = 1000.0
    rows = sorted(rows)
    base, appended = rows[: len(rows) // 2], rows

    def manifest(data):
        df = spark.createDataFrame(data, "doc_id long, source string, n_chars long")
        w = (
            Window.partitionBy("source")
            .orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return {
            (r["doc_id"], r["source"]): r["shard"]
            for r in df.select(
                "doc_id",
                "source",
                F.floor((F.sum("n_chars").over(w) - F.col("n_chars")) / budget).alias(
                    "shard"
                ),
            ).collect()
        }

    if not base:
        return
    before, after = manifest(base), manifest(appended)
    for key, shard in before.items():
        assert after[key] == shard


@settings(**SETTINGS)
@given(
    st.lists(st.tuples(st.integers(0, 9), st.booleans()), min_size=1, max_size=60)
)
def test_psi_nonnegative_and_zero_iff_identical(spark, obs):
    """dq04's law: smoothed PSI is ≥ 0 on any pair of histograms, and
    exactly 0 when both time slices have identical bin counts."""
    nbins = 10
    ref = [0] * nbins
    cur = [0] * nbins
    for b, is_ref in obs:
        (ref if is_ref else cur)[b] += 1

    def psi(a, b):
        na, nb = sum(a), sum(b)
        total = 0.0
        for i in range(nbins):
            p = (a[i] + 1.0) / (na + nbins)
            q = (b[i] + 1.0) / (nb + nbins)
            total += (p - q) * math.log(p / q)
        return total

    assert psi(ref, cur) >= 0.0
    assert abs(psi(ref, ref)) < 1e-12 and abs(psi(cur, cur)) < 1e-12


@settings(**SETTINGS)
@given(st.lists(st.integers(0, 1_000_000), min_size=1, max_size=40, unique=True))
def test_mixture_sample_membership_is_pointwise(spark, ids):
    """tp08's law: a doc's inclusion depends only on its own key hash —
    identical verdicts whether scored alone or in any batch."""
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    batch = {
        r["doc_id"]: r["keep"]
        for r in df.select(
            "doc_id", (_md5_bucket(F.col("doc_id")) < 50).alias("keep")
        ).collect()
    }
    solo_df = spark.createDataFrame([(ids[0],)], "doc_id long")
    solo = solo_df.select((_md5_bucket(F.col("doc_id")) < 50).alias("keep")).collect()[0][
        "keep"
    ]
    assert solo == batch[ids[0]]


@settings(**SETTINGS)
@given(st.lists(st.integers(0, 10_000), min_size=4, max_size=60, unique=True))
def test_global_shuffle_append_stable(spark, ids):
    """tp13's law: appending docs never moves an existing doc's shard
    and never reorders existing docs WITHIN a shard (new docs only
    interleave); and the (shard, position) grid is dense per shard."""
    from chicago_business_owners_data_engineering_spark.operators.pipeline_ml import (
        global_shuffle_assignment,
    )

    ids = sorted(ids)
    base, appended = ids[: len(ids) // 2], ids
    if not base:
        return

    def order(data):
        df = spark.createDataFrame([(i,) for i in data], "doc_id long")
        return {
            r["doc_id"]: (r["shard"], r["position"])
            for r in global_shuffle_assignment(df, "doc_id").collect()
        }

    before, after = order(base), order(appended)
    # shard never changes; within-shard relative order of old docs holds
    for doc, (shard, _) in before.items():
        assert after[doc][0] == shard
    for shard in {s for s, _ in before.values()}:
        olds = [d for d, (s, _) in before.items() if s == shard]
        rank_before = sorted(olds, key=lambda d: before[d][1])
        rank_after = sorted(olds, key=lambda d: after[d][1])
        assert rank_before == rank_after
    # positions are a dense 1..n grid per shard after append
    by_shard: dict = {}
    for d, (s, p) in after.items():
        by_shard.setdefault(s, []).append(p)
    for ps in by_shard.values():
        assert sorted(ps) == list(range(1, len(ps) + 1))


# Small token alphabet forces heavy set overlap — the adversarial
# regime for prefix filtering (ties in df, shared rare tokens).
_tokens = st.lists(
    st.sampled_from(["a", "b", "c", "d", "e", "f", "g", "h"]),
    min_size=1,
    max_size=6,
    unique=True,
)


@settings(**SETTINGS)
@given(st.lists(_tokens, min_size=2, max_size=10))
def test_prefix_filter_join_equals_brute_force(spark, sets):
    """dd12's prefix-filter join returns EXACTLY the brute-force pair
    set on arbitrary token sets — losslessness is a theorem, so any
    counterexample is a bug, not noise."""
    from chicago_business_owners_data_engineering_spark.operators.dedup import (
        jaccard_join_prefix,
    )

    expected = set()
    for i in range(len(sets)):
        for j in range(i + 1, len(sets)):
            si, sj = set(sets[i]), set(sets[j])
            if len(si & sj) / len(si | sj) >= 0.8:
                expected.add((i, j))
    df = spark.createDataFrame(
        [(i, sorted(s)) for i, s in enumerate(sets)],
        "doc_id long, ws array<string>",
    )
    got = {(r.doc_a, r.doc_b) for r in jaccard_join_prefix(df).collect()}
    assert got == expected


_edges = st.lists(
    st.tuples(st.integers(0, 12), st.integers(0, 12)).filter(lambda p: p[0] != p[1]),
    min_size=1,
    max_size=20,
)


@settings(**SETTINGS)
@given(_edges)
def test_integer_pagerank_invariants(spark, pairs):
    """On any graph: every endpoint gets a rank, total rank never
    exceeds the scale (div only truncates), every rank is at least the
    teleport floor, and the result is independent of edge input order."""
    from chicago_business_owners_data_engineering_spark.operators.graph import (
        PR_SCALE,
        pagerank_integer,
    )

    canon = {(min(a, b), max(a, b)) for a, b in pairs}
    df = spark.createDataFrame(
        [(a, b) for a, b in canon], "part_a long, part_b long"
    )
    ranks = {r.node: r["rank"] for r in pagerank_integer(df).collect()}
    nodes = {n for e in canon for n in e}
    assert set(ranks) == nodes
    assert sum(ranks.values()) <= PR_SCALE
    floor = (15 * (PR_SCALE // len(nodes))) // 100
    assert all(v >= floor for v in ranks.values())
    df_rev = spark.createDataFrame(
        [(b, a) for a, b in sorted(canon, reverse=True)], "part_a long, part_b long"
    )
    ranks_rev = {r.node: r["rank"] for r in pagerank_integer(df_rev).collect()}
    assert ranks == ranks_rev


def test_k_anonymity_audit_and_suppression_consistent(spark):
    """Every class dq06 reports is genuinely < k; dq07 suppresses
    exactly the rows of those classes and no others; suppressed rows
    null ALL quasi-identifiers (no partial leakage)."""
    from chicago_business_owners_data_engineering_spark import registry
    from chicago_business_owners_data_engineering_spark.operators.curation import K_ANON

    sf = "/root/testdata/sf0.001"
    risky = registry.QUERIES["dq06_k_anonymity"](spark, sf).collect()
    assert all(r.n_rows < K_ANON for r in risky)
    risky_keys = {(r.c_mktsegment, r.c_nationkey, r.bal_bucket) for r in risky}

    released = registry.QUERIES["dq07_k_anonymity_suppress"](spark, sf).collect()
    n_suppressed = sum(1 for r in released if r.suppressed)
    assert n_suppressed == sum(r.n_rows for r in risky)
    for r in released:
        if r.suppressed:
            assert r.mktsegment is None and r.nationkey is None and r.bal_bucket is None
        else:
            assert (r.mktsegment, r.nationkey, r.bal_bucket) not in risky_keys
            assert None not in (r.mktsegment, r.nationkey, r.bal_bucket)


@settings(**SETTINGS)
@given(st.lists(_tokens, min_size=2, max_size=10))
def test_containment_join_equals_brute_force(spark, sets):
    """dd13's asymmetric prefix-filter join returns EXACTLY the
    brute-force ordered containment pairs on arbitrary token sets —
    like dd12, losslessness is a theorem, so any counterexample is a
    bug, not noise."""
    from chicago_business_owners_data_engineering_spark.operators.dedup import (
        containment_join_prefix,
    )

    expected = set()
    for i in range(len(sets)):
        for j in range(len(sets)):
            if i == j:
                continue
            si, sj = set(sets[i]), set(sets[j])
            if 10 * len(si & sj) >= 7 * len(si):
                expected.add((i, j))
    df = spark.createDataFrame(
        [(i, sorted(s)) for i, s in enumerate(sets)],
        "doc_id long, ws array<string>",
    )
    got = {(r.doc_a, r.doc_b) for r in containment_join_prefix(df).collect()}
    assert got == expected


_bpe_words = st.lists(
    st.text(alphabet="ab", min_size=1, max_size=6),
    min_size=1,
    max_size=8,
)


@settings(**SETTINGS)
@given(_bpe_words)
def test_bpe_merges_match_reference_implementation(spark, tmp_path_factory, words):
    """tx14 against an independent plain-Python greedy BPE: same merge
    table (pair, count, order) on arbitrary word multisets over a tiny
    alphabet — the adversarial regime for adjacent-run merging and
    count ties."""
    from collections import Counter

    from chicago_business_owners_data_engineering_spark.registry import QUERIES

    # reference: classic greedy BPE on the word-frequency table
    freqs = Counter(words)
    vocab = {w: list(w) for w in freqs}
    expected = []
    for _ in range(5):
        pc: Counter = Counter()
        for w, toks in vocab.items():
            for i in range(len(toks) - 1):
                pc[(toks[i], toks[i + 1])] += freqs[w]
        if not pc:
            break
        best = min(pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        (l, r), c = best
        expected.append((l, r, c))
        for w, toks in vocab.items():
            out, i = [], 0
            while i < len(toks):
                if i + 1 < len(toks) and toks[i] == l and toks[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(toks[i])
                    i += 1
            vocab[w] = out

    tmp = tmp_path_factory.mktemp("bpe")
    spark.createDataFrame(
        [(i, w) for i, w in enumerate(words)], "doc_id long, text string"
    ).write.mode("overwrite").parquet(str(tmp / "documents.parquet"))
    got = [
        (r.left, r.right, r.pair_count)
        for r in QUERIES["tx14_bpe_merges"](spark, str(tmp)).collect()
    ]
    assert got == expected
