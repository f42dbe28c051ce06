"""Semantics tests for the training-data pipeline operators
(operators/pipeline_ml.py) — edge cases the sf-scale oracle diff can't
pin down: chunk boundary math, split stability under data growth, as-of
tie-breaking, sessionization gap edges."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from chicago_business_owners_data_engineering_spark import registry
from chicago_business_owners_data_engineering_spark.operators.pipeline_ml import (
    CHUNK_SIZE,
    CHUNK_STRIDE,
    SAMPLE_PER_STRATUM,
    SESSION_GAP_S,
)
from chicago_business_owners_data_engineering_spark.functions.sampling import md5_bucket as _md5_bucket


def test_hash_split_is_stable_under_data_growth(spark, sf_dir):
    """A row's split depends only on its key — subsetting the data must
    not reassign surviving rows (the eval-contamination guarantee)."""
    full = {
        r["doc_id"]: r["split"]
        for r in registry.QUERIES["tp01_hash_split"](spark, sf_dir).collect()
    }
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
    docs.createOrReplaceTempView("x")
    subset = docs.select(
        "doc_id",
        _md5_bucket(F.col("doc_id")).alias("bucket"),
    ).collect()
    for r in subset:
        expected = "train" if r["bucket"] < 80 else ("valid" if r["bucket"] < 90 else "test")
        assert full[r["doc_id"]] == expected
    # ratios roughly 80/10/10
    n = len(full)
    train = sum(1 for s in full.values() if s == "train")
    assert 0.6 * n < train < 0.95 * n


def test_doc_chunks_cover_text_with_overlap(spark):
    df = spark.createDataFrame(
        [(1, "a" * 500, 500), (2, "b" * 10, 10), (3, "c" * CHUNK_SIZE, CHUNK_SIZE)],
        "doc_id long, text string, n_chars long",
    )
    df.createOrReplaceTempView("documents_local")
    chunks = (
        df.select(
            "doc_id",
            "text",
            F.explode(
                F.sequence(
                    F.lit(0).cast("long"),
                    F.when(F.col("n_chars") <= CHUNK_SIZE, F.lit(1).cast("long"))
                    .otherwise(F.ceil((F.col("n_chars") - CHUNK_SIZE) / CHUNK_STRIDE) + 1)
                    - 1,
                )
            ).alias("chunk_id"),
        )
        .select(
            "doc_id",
            "chunk_id",
            F.substring(
                F.col("text"), (F.col("chunk_id") * CHUNK_STRIDE + 1).cast("int"), CHUNK_SIZE
            ).alias("chunk"),
        )
        .collect()
    )
    by_doc: dict[int, list] = {}
    for r in sorted(chunks, key=lambda r: (r["doc_id"], r["chunk_id"])):
        by_doc.setdefault(r["doc_id"], []).append(r["chunk"])
    # doc 1: 500 chars → chunks at 0,150,300; the last one ends exactly
    # at char 500, so all three are full-size and coverage is complete
    assert [len(c) for c in by_doc[1]] == [200, 200, 200]
    # successive chunks overlap by size - stride
    assert by_doc[1][0][CHUNK_STRIDE:] == by_doc[1][1][: CHUNK_SIZE - CHUNK_STRIDE]
    # short doc → one whole-text chunk; exact-size doc → one chunk
    assert by_doc[2] == ["b" * 10]
    assert by_doc[3] == ["c" * CHUNK_SIZE]
    # reconstruction: concatenating chunk[:stride] prefixes + last chunk == text
    rebuilt = "".join(c[:CHUNK_STRIDE] for c in by_doc[1][:-1]) + by_doc[1][-1]
    assert rebuilt == "a" * 500


def test_stratified_sample_exactly_k_per_stratum(spark, sf_dir):
    rows = registry.QUERIES["tp04_stratified_sample"](spark, sf_dir).collect()
    per_lang: dict[str, int] = {}
    for r in rows:
        per_lang[r["lang"]] = per_lang.get(r["lang"], 0) + 1
    total_langs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet").select("lang").distinct().count()
    )
    assert len(per_lang) == total_langs
    assert all(v <= SAMPLE_PER_STRATUM for v in per_lang.values())
    # deterministic across invocations
    again = registry.QUERIES["tp04_stratified_sample"](spark, sf_dir).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_asof_join_matches_bruteforce(spark, sf_dir):
    """Union+window as-of equals the quadratic argmax definition."""
    out = {
        r["event_id"]: (r["matched_order"], r["matched_date"])
        for r in registry.QUERIES["j08_asof_join"](spark, sf_dir).collect()
    }
    events = {
        r["event_id"]: (r["user_id"], r["ts"])
        for r in spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("event_id", "user_id", "ts")
        .collect()
    }
    orders_by_cust: dict[int, list] = {}
    for r in spark.read.parquet(f"{sf_dir}/orders.parquet").collect():
        orders_by_cust.setdefault(r["o_custkey"], []).append(
            (r["o_orderdate"], r["o_orderkey"])
        )
    for eid, (uid, ts) in events.items():
        cands = [
            (d, k) for (d, k) in orders_by_cust.get(uid, []) if d <= ts
        ]
        if not cands:
            assert eid not in out
            continue
        best = max(cands)  # (max date, then max orderkey)
        assert out[eid] == (best[1], best[0]), eid


def test_sessionization_gap_edges(spark):
    base = datetime.datetime(2024, 1, 1, 0, 0, 0)

    def at(s):
        return base + datetime.timedelta(seconds=s)

    rows = [
        (1, 100, at(0)),
        (1, 101, at(SESSION_GAP_S)),          # gap == threshold → same session
        (1, 102, at(2 * SESSION_GAP_S + 1)),  # gap threshold+1 → new session
        (2, 200, at(0)),                      # separate user
    ]
    df = spark.createDataFrame(rows, "user_id long, event_id long, ts timestamp")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_s = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    new_sess = F.when(gap_s.isNull() | (gap_s > SESSION_GAP_S), 1).otherwise(0)
    got = {
        (r["user_id"], r["event_id"]): r["session_id"]
        for r in df.select(
            "user_id",
            "event_id",
            F.sum(new_sess)
            .over(w.rowsBetween(Window.unboundedPreceding, 0))
            .alias("session_id"),
        ).collect()
    }
    assert got[(1, 100)] == 1 and got[(1, 101)] == 1
    assert got[(1, 102)] == 2
    assert got[(2, 200)] == 1


def test_grouping_sets_totals_consistent(spark, sf_dir):
    rows = registry.QUERIES["f21_grouping_sets"](spark, sf_dir).collect()
    grand = [r for r in rows if r["o_orderstatus"] is None and r["o_orderpriority"] is None]
    per_status = [
        r for r in rows if r["o_orderstatus"] is not None and r["o_orderpriority"] is None
    ]
    finest = [r for r in rows if r["o_orderpriority"] is not None]
    assert len(grand) == 1
    assert grand[0]["n_orders"] == sum(r["n_orders"] for r in per_status)
    assert grand[0]["n_orders"] == sum(r["n_orders"] for r in finest)


def test_scalar_quantization_error_bound(spark, sf_dir):
    """Max reconstruction error of symmetric int8 quantization is ≤ scale/2."""
    rows = registry.QUERIES["sim06_scalar_quantization"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["max_err"] <= r["scale"] / 2 + 1e-6


def test_mm06_resize_preserves_aspect_and_fits_box(spark, sf_dir):
    from chicago_business_owners_data_engineering_spark.operators.multimodal import (
        RESIZE_BOX,
        mm06_resize_batch,
    )

    out = mm06_resize_batch(spark, sf_dir).collect()
    assert out
    for r in out:
        assert 1 <= r["out_width"] <= RESIZE_BOX
        assert 1 <= r["out_height"] <= RESIZE_BOX
        # aspect preserved within integer-floor rounding
        if r["width"] >= r["height"]:
            assert r["out_width"] >= r["out_height"]
        else:
            assert r["out_height"] >= r["out_width"]
        # never upscaled
        assert r["out_width"] <= r["width"] and r["out_height"] <= r["height"]
    # deterministic across runs
    again = mm06_resize_batch(spark, sf_dir).collect()
    assert {(r["doc_id"], bytes(r["resized"])) for r in out} == {
        (r["doc_id"], bytes(r["resized"])) for r in again
    }


def test_a31_freq_items_superset_of_truly_frequent(spark, sf_dir):
    """KPS sketch guarantee: every item with frequency > support appears
    in the freqItems result (false positives allowed, misses not)."""
    from chicago_business_owners_data_engineering_spark.operators.curation import (
        a31_freq_items,
    )

    # output is unpivoted to scalar (col_name, item) rows — array-typed
    # cells crash the external driver's canonicalizer
    rows = a31_freq_items(spark, sf_dir).collect()
    assert all(isinstance(r["item"], str) for r in rows)
    # every row IS a truly-frequent item, and each must be captured by
    # the sketch (the oracle pins captured=TRUE)
    assert rows and all(r["captured"] for r in rows)
    found: dict[str, set] = {}
    for r in rows:
        found.setdefault(r["col_name"], set()).add(r["item"])
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    n = orders.count()
    for col in ["o_orderpriority", "o_orderstatus"]:
        exact = {
            r[col]
            for r in orders.groupBy(col).count().collect()
            if r["count"] * 5 > n
        }
        assert exact == found.get(col, set()), (col, exact, found)


def test_vector_pipeline_end_to_end(spark, sf_dir, tmp_path):
    """Build the PQ index (cluster -> dedup -> encode) and serve a query.

    Pins: index excludes exactly the semantic-dedup drops, partition
    layout is by cluster, and the served top-k matches the exact scan
    OVER THE INDEXED SET with >= 50% overlap (PQ recall bound).
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

    out = str(tmp_path / "vec")
    card = build_vector_index(spark, sf_dir, out)
    assert card["indexed"] == card["survivors"]
    assert card["raw_vectors"] - card["semantic_dropped"] == card["survivors"]
    # partitioned by cluster on disk
    import os

    parts = [d for d in os.listdir(os.path.join(out, "pq_index")) if d.startswith("cluster=")]
    assert parts, "index must be cluster-partitioned"

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    qv = [float(x) for x in emb.filter(F.col("vec_id") == QUERY_VEC_ID).collect()[0]["v"]]
    got = [
        r["vec_id"]
        for r in query_vector_index(spark, sf_dir, out, card["codebook"], qv, TOP_K).collect()
    ]
    assert len(got) == TOP_K

    indexed_ids = {
        r["vec_id"] for r in spark.read.parquet(os.path.join(out, "pq_index")).collect()
    }
    assert set(got) <= indexed_ids
    q_lit = F.array(*[F.lit(x) for x in qv])
    dist = F.sqrt(
        F.aggregate(
            F.zip_with("v", q_lit, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda a, x: a + x,
        )
    )
    truth = [
        r["vec_id"]
        for r in emb.filter(F.col("vec_id").isin(list(indexed_ids)))
        .select("vec_id", dist.alias("d"))
        .orderBy("d", "vec_id")
        .limit(TOP_K)
        .collect()
    ]
    assert len(set(got) & set(truth)) >= 0.5 * TOP_K, (got, truth)


def test_tp14_split_never_separates_near_dups(spark, sf_dir):
    """The leakage guard: every near-dup component lands wholly inside
    one split, every doc is assigned exactly once, and fractions are
    near 80/10/10."""
    from chicago_business_owners_data_engineering_spark import registry
    from chicago_business_owners_data_engineering_spark.catalog import load_table
    from pyspark.sql import functions as F

    out = registry.QUERIES["tp14_leakage_safe_split"](spark, sf_dir)
    n_docs = load_table(spark, sf_dir, "documents").count()
    rows = out.collect()
    assert len(rows) == n_docs
    per_group = (
        out.groupBy("group_key").agg(F.countDistinct("split").alias("ns")).collect()
    )
    assert all(r.ns == 1 for r in per_group)
    frac_train = sum(1 for r in rows if r.split == "train") / n_docs
    assert 0.7 < frac_train < 0.9


def test_sim11_mmr_diversifies_vs_plain_topk(spark, sf_dir):
    """MMR's first pick is the plain top-1, every pick comes from the
    candidate pool, and the selected set is never LESS diverse than the
    plain top-K prefix (max pairwise cosine no larger)."""
    import itertools
    import math

    from chicago_business_owners_data_engineering_spark import registry
    from chicago_business_owners_data_engineering_spark.catalog import load_table
    from chicago_business_owners_data_engineering_spark.operators.similarity import (
        MMR_K,
        QUERY_VEC_ID,
    )

    mmr = registry.QUERIES["sim11_mmr_rerank"](spark, sf_dir).collect()
    assert [r.pick_rank for r in mmr] == list(range(1, MMR_K + 1))
    plain = registry.QUERIES["sim01_bruteforce_topk"](spark, sf_dir).collect()
    assert mmr[0].vec_id == plain[0].vec_id

    vecs = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in load_table(spark, sf_dir, "embeddings").collect()
    }

    def maxpair(ids):
        def cos(a, b):
            d = sum(x * y for x, y in zip(a, b))
            na = math.sqrt(sum(x * x for x in a))
            nb = math.sqrt(sum(x * x for x in b))
            return d / (na * nb)

        return max(
            cos(vecs[i], vecs[j]) for i, j in itertools.combinations(ids, 2)
        )

    mmr_ids = [r.vec_id for r in mmr]
    plain_ids = [r.vec_id for r in plain[:MMR_K]]
    assert QUERY_VEC_ID not in mmr_ids
    assert maxpair(mmr_ids) <= maxpair(plain_ids) + 1e-12


def test_sim12_ivf_mmr_pool_is_probed_and_trajectory_valid(spark, sf_dir):
    """sim12's picks all live in the IVF-probed cells, its first pick is
    the top-rel vector WITHIN those cells, and when the probe happens to
    cover the plain pool the trajectory degrades to sim11's."""
    from pyspark.sql import functions as F

    from chicago_business_owners_data_engineering_spark import registry
    from chicago_business_owners_data_engineering_spark.catalog import load_table
    from chicago_business_owners_data_engineering_spark.operators.similarity import (
        MMR_K,
        QUERY_VEC_ID,
        _ivf_probed_labels,
        cosine,
    )

    out = registry.QUERIES["sim12_ivf_mmr_rerank"](spark, sf_dir).collect()
    assert [r.pick_rank for r in out] == list(range(1, MMR_K + 1))
    assert QUERY_VEC_ID not in {r.vec_id for r in out}

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").cast("array<double>").alias("qv")
    )
    probed = {r.label for r in _ivf_probed_labels(emb, q).collect()}
    labels = {r.vec_id: r.label for r in emb.select("vec_id", "label").collect()}
    assert all(labels[r.vec_id] in probed for r in out)

    # first pick = argmax cosine among probed-cell vectors (ties: vec_id)
    best = (
        emb.filter(F.col("label").isin(list(probed)) & (F.col("vec_id") != QUERY_VEC_ID))
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            cosine(F.col("embedding").cast("array<double>"), F.col("qv")).alias("c"),
        )
        .orderBy(F.desc("c"), F.asc("vec_id"))
        .first()
    )
    assert out[0].vec_id == best.vec_id


def test_sim13_knn_join_structure_and_recall(spark, sf_dir):
    """One row per query vector, never a self-match, and the blocked
    top-1 agrees with the exact brute-force top-1 for a solid majority
    of vectors (multi-probe blocking recall — same bound family as
    ml03's pair recall)."""
    import numpy as np

    from chicago_business_owners_data_engineering_spark import registry
    from chicago_business_owners_data_engineering_spark.catalog import load_table

    out = registry.QUERIES["sim13_knn_join"](spark, sf_dir).collect()
    assert all(r.vec_id != r.nn_id for r in out)
    ids = [r.vec_id for r in out]
    assert len(ids) == len(set(ids))

    rows = load_table(spark, sf_dir, "embeddings").collect()
    V = np.array([[float(x) for x in r.embedding] for r in rows])
    vid = np.array([r.vec_id for r in rows])
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    C = Vn @ Vn.T
    np.fill_diagonal(C, -2.0)
    exact = {}
    for i in range(len(vid)):
        j = int(np.argmax(C[i]))
        exact[int(vid[i])] = int(vid[j])
    got = {r.vec_id: r.nn_id for r in out}
    agree = sum(1 for k in got if exact.get(k) == got[k])
    assert agree / len(got) >= 0.6, f"recall {agree}/{len(got)}"


def test_salted_cell_join_neither_loses_nor_duplicates_pairs(spark):
    """The salted in-cell self-join behind ml03/ml04/ml09/sim13/sim14
    returns exactly the pair set of the plain probe-only join, each
    pair once: one hot cell of 40 ids (striped over several salts),
    some of its ids also in a second cell, and both join forms (``<``
    for canonical pairs, ``!=`` for both orientations)."""
    import operator

    from chicago_business_owners_data_engineering_spark.operators.similarity import (
        SALTS,
        salted_cell_join,
    )

    rows = (
        [(i, 0) for i in range(40)]
        + [(i, 1) for i in range(0, 40, 3)]
        + [(i, 1) for i in range(40, 44)]
        + [(i, 2) for i in range(44, 47)]
    )
    probes = spark.createDataFrame(rows, "vec_id long, probe int")
    hot_salts = (
        probes.filter("probe = 0")
        .select(F.pmod(F.xxhash64("vec_id"), F.lit(SALTS)).alias("s"))
        .distinct()
        .count()
    )
    assert hot_salts > 1
    for op in (operator.lt, operator.ne):
        got = [
            (r.x, r.y)
            for r in salted_cell_join(probes, probes, ("x", "y"), op=op).collect()
        ]
        want = {(a, b) for a, pa in rows for b, pb in rows if pa == pb and op(a, b)}
        assert len(got) == len(set(got)), op
        assert set(got) == want, op


def test_sim14_pq_join_quality_vs_exact_blocked(spark, sf_dir):
    """The PQ-quantized join's contract, measured against the exact
    blocked top-1: (a) every reported nn_l2 is the TRUE distance to the
    emitted neighbor (quantization may pick a worse neighbor, never
    misreport a distance); (b) at the default rerank most matches land
    within 5% of the exact neighbor's distance; (c) widening the
    re-rank budget monotonically improves quality — on this
    near-uniform corpus the top-1 margin is tiny (all pairwise
    distances ~1.1-1.2), so rerank, not the 16-word codebook, is the
    quality knob."""
    import math

    from chicago_business_owners_data_engineering_spark.operators.clustering import (
        kmeans_probes,
    )
    from chicago_business_owners_data_engineering_spark.operators.similarity import (
        pq_knn_join,
        sim14_pq_knn_join,
    )

    vecs: dict[int, list] = {}
    probes: dict[int, set] = {}
    for r in kmeans_probes(spark, sf_dir).collect():
        vecs[r["vec_id"]] = list(r["v"])
        probes.setdefault(r["vec_id"], set()).add(r["probe"])

    def l2(a, b):
        return math.sqrt(sum((x - y) ** 2 for x, y in zip(a, b)))

    exact_nn = {}
    for i in vecs:
        best = min(
            ((l2(vecs[i], vecs[j]), j) for j in vecs if j != i and probes[i] & probes[j]),
            default=None,
        )
        if best:
            exact_nn[i] = best

    def quality(rows):
        within = hits = 0
        for r in rows:
            assert abs(r["nn_l2"] - l2(vecs[r["vec_id"]], vecs[r["nn_id"]])) < 1e-5
            d0, nn0 = exact_nn[r["vec_id"]]
            within += r["nn_l2"] <= 1.05 * d0
            hits += r["nn_id"] == nn0
        return within, hits

    out = sim14_pq_knn_join(spark, sf_dir).collect()
    assert {r["vec_id"] for r in out} == set(exact_nn)
    within8, hits8 = quality(out)
    assert within8 >= 0.6 * len(out), (within8, len(out))
    within32, hits32 = quality(pq_knn_join(spark, sf_dir, rerank=32).collect())
    assert within32 >= 0.9 * len(out), (within32, len(out))
    assert hits32 >= hits8, (hits8, hits32)


def test_tx13_bigram_surprisal_matches_python_recompute(spark, sf_dir):
    """Recompute the full add-α bigram LM in plain Python over the same
    corpus and compare every document's score — an independent
    implementation of the model definition, not a replay of the SQL."""
    import math

    from chicago_business_owners_data_engineering_spark.catalog import load_table
    from chicago_business_owners_data_engineering_spark.operators.curation import (
        BIGRAM_ALPHA,
        tx13_bigram_surprisal,
    )

    docs = {
        r["doc_id"]: r["text"].lower().split(" ")
        for r in load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    }
    c12: dict[tuple, int] = {}
    c1: dict[str, int] = {}
    vocab = set()
    for toks in docs.values():
        vocab.update(toks)
        for w1, w2 in zip(toks, toks[1:]):
            c12[(w1, w2)] = c12.get((w1, w2), 0) + 1
            c1[w1] = c1.get(w1, 0) + 1
    V = len(vocab)

    out = {r["doc_id"]: r for r in tx13_bigram_surprisal(spark, sf_dir).collect()}
    expected_ids = {d for d, toks in docs.items() if len(toks) >= 2}
    assert set(out) == expected_ids
    for d in expected_ids:
        toks = docs[d]
        s = [
            -math.log2((c12[(w1, w2)] + BIGRAM_ALPHA) / (c1[w1] + BIGRAM_ALPHA * V))
            for w1, w2 in zip(toks, toks[1:])
        ]
        assert out[d]["n_bigrams"] == len(s)
        assert abs(out[d]["avg_bigram_surprisal"] - sum(s) / len(s)) < 2e-4, d
        assert 0.0 < out[d]["avg_bigram_surprisal"] < 64.0


def test_dsir_scores_rank_target_like_docs_higher(spark):
    """tp16's linearized DSIR ranking claim on a planted corpus: docs
    written in the target language's vocabulary score strictly above
    docs written in the off-target vocabulary, and a mixed doc lands
    between them."""
    from chicago_business_owners_data_engineering_spark.operators.pipeline_ml import (
        dsir_scores,
    )

    tgt_vocab = "alpha beta gamma delta epsilon"
    off_vocab = "zork blarg quux frobnitz grue"
    rows = [
        # exemplar set: target lang, target vocabulary (many copies so
        # the smoothed ratio separates clearly)
        *[(i, tgt_vocab, "en") for i in range(10)],
        # off-target bulk
        *[(100 + i, off_vocab, "zh") for i in range(10)],
        # probes: unlabeled docs written in each vocabulary + a mix
        (500, tgt_vocab, "de"),
        (501, off_vocab, "de"),
        (502, "alpha beta zork blarg", "de"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = {r.doc_id: r.imp_micro for r in dsir_scores(docs).collect()}
    assert got[500] > got[502] > got[501]
    # the average-of-ratios form: a doc's score does not change when its
    # text is duplicated (bag average, not sum)
    docs2 = docs.union(
        spark.createDataFrame(
            [(503, f"{tgt_vocab} {tgt_vocab}", "de")],
            "doc_id long, text string, lang string",
        )
    )
    got2 = {r.doc_id: r.imp_micro for r in dsir_scores(docs2).collect()}
    assert got2[503] == got2[500]


def test_decontaminate_train_drops_overlap_keeps_short_docs(spark, tmp_path):
    """tp17 on a planted corpus: a train doc sharing a 3-gram with an
    eval doc is dropped; an independent train doc and a shingle-less
    (2-word) train doc survive."""
    from chicago_business_owners_data_engineering_spark.functions.sampling import (
        md5_bucket as _md5_bucket,
    )
    from chicago_business_owners_data_engineering_spark.registry import QUERIES

    # find doc_ids landing in train (<80) and eval (>=90) buckets
    probe = spark.createDataFrame(
        [(i,) for i in range(400)], "doc_id long"
    ).select("doc_id", _md5_bucket(F.col("doc_id")).alias("b")).collect()
    train_ids = [r.doc_id for r in probe if r.b < 80]
    eval_ids = [r.doc_id for r in probe if r.b >= 90]
    t_dirty, t_clean, t_short, t_one = train_ids[:4]
    e0 = eval_ids[0]
    rows = [
        (t_dirty, "the quick brown fox jumps", "en", "s", 25),
        (t_clean, "completely different training text here", "en", "s", 39),
        (t_short, "two words", "en", "s", 9),
        # 1-word doc: slice length would be -1 without the clamp
        (t_one, "solo", "en", "s", 4),
        (e0, "we saw the quick brown fox yesterday", "en", "s", 37),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = {
        r.doc_id: r.n_shingles
        for r in QUERIES["tp17_decontaminate_train"](spark, str(tmp_path)).collect()
    }
    assert t_dirty not in got  # shares "the quick brown" / "quick brown fox"
    assert got[t_clean] == 3  # 5 words -> 3 shingles
    assert got[t_short] == 0  # shingle-less, survives
    assert got[t_one] == 0  # 1-word doc survives too (no crash, no shingles)


def test_last_touch_attribution_hand_computed(spark, tmp_path):
    """st02 on a planted journey: the purchase credits the most recent
    prior non-purchase touch, a first-event purchase goes to 'direct',
    and a purchase never credits an earlier purchase."""
    rows = [
        # user 1: view -> click -> purchase(10) -> purchase(5)
        (0, "2024-01-01 10:00:00", 1, "view", 0.0, "{}"),
        (1, "2024-01-01 11:00:00", 1, "click", 0.0, "{}"),
        (2, "2024-01-01 12:00:00", 1, "purchase", 10.0, "{}"),
        (3, "2024-01-01 13:00:00", 1, "purchase", 5.0, "{}"),
        # user 2: purchase with no prior touch -> direct
        (4, "2024-01-01 09:00:00", 2, "purchase", 7.0, "{}"),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts_s string, user_id long, event_type string,"
        " value double, props string",
    ).select(
        "event_id", F.col("ts_s").cast("timestamp").alias("ts"),
        "user_id", "event_type", "value", "props",
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    from chicago_business_owners_data_engineering_spark.registry import QUERIES

    got = {
        r.channel: (r.n_purchases, r.revenue_cents)
        for r in QUERIES["st02_last_touch_attribution"](spark, str(tmp_path)).collect()
    }
    # both of user 1's purchases credit 'click' (the second skips the
    # intervening purchase thanks to the CASE+IGNORE NULLS)
    assert got == {"click": (2, 1500), "direct": (1, 700)}
