"""Tests for entity resolution, incremental rollup, bloom pre-filter, k-means.

Each asserts the operator's defining invariant (not just row counts):
blocking soundness for er01/er02, merge-equals-recompute for inc01,
no-false-negatives + exact-equality for bf01, and monotone inertia for
ml01 — plus plan-shape checks for the scale claims in the docstrings.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from chicago_business_owners_data_engineering_spark.catalog import load_table
from chicago_business_owners_data_engineering_spark.operators.clustering import (
    K,
    _assign,
    _recompute,
)
from chicago_business_owners_data_engineering_spark.operators.incremental import (
    bf01_bloom_join_prefilter,
    bloom_build,
    bloom_probe,
    inc01_incremental_rollup,
)
from chicago_business_owners_data_engineering_spark.operators.linkage import (
    MAX_EDIT,
    er01_blocked_fuzzy_pairs,
    er02_entity_clusters,
)


def test_er01_blocking_soundness(spark, sf_dir):
    pairs = er01_blocked_fuzzy_pairs(spark, sf_dir).collect()
    assert pairs, "fuzzy-variant pairs expected in the synthetic catalog"
    part = {
        r["p_partkey"]: r
        for r in load_table(spark, sf_dir, "part").collect()
    }
    for r in pairs:
        a, b = part[r["part_a"]], part[r["part_b"]]
        assert a["p_brand"] == b["p_brand"]
        assert a["p_name"].split()[-1] == b["p_name"].split()[-1]
        assert 1 <= r["edit_dist"] <= MAX_EDIT
        assert r["part_a"] < r["part_b"]


def test_er01_plan_has_no_cartesian(spark, sf_dir):
    plan = er01_blocked_fuzzy_pairs(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_er02_canonical_is_cheapest_in_entity(spark, sf_dir):
    rows = er02_entity_clusters(spark, sf_dir).collect()
    assert rows
    price = {
        r["p_partkey"]: r["p_retailprice"]
        for r in load_table(spark, sf_dir, "part").collect()
    }
    by_entity: dict[int, list] = {}
    for r in rows:
        by_entity.setdefault(r["entity_id"], []).append(r)
    for members in by_entity.values():
        canon = [r for r in members if r["keep"]]
        assert len(canon) == 1
        canon_key = canon[0]["p_partkey"]
        assert all(r["canonical_partkey"] == canon_key for r in members)
        best = min((price[r["p_partkey"]], r["p_partkey"]) for r in members)
        assert (price[canon_key], canon_key) == best


def test_inc01_merge_equals_full_recompute(spark, sf_dir):
    merged = {r["ship_month"]: r for r in inc01_incremental_rollup(spark, sf_dir).collect()}
    lineitem = load_table(spark, sf_dir, "lineitem")
    full = {
        r["ship_month"]: r
        for r in lineitem.groupBy(
            F.date_format("l_shipdate", "yyyy-MM").alias("ship_month")
        )
        .agg(
            F.sum(F.floor("l_quantity")).alias("sum_qty"),
            F.sum(F.floor(F.col("l_extendedprice") * 100)).alias("sum_price_cents"),
            F.count("*").alias("n_items"),
        )
        .collect()
    }
    assert set(merged) == set(full)
    for m, r in merged.items():
        assert r["n_items"] == full[m]["n_items"]
        # integer partial state: merge ≡ recompute EXACTLY, no tolerance
        assert r["sum_qty"] == full[m]["sum_qty"]
        assert r["sum_price_cents"] == full[m]["sum_price_cents"]


def test_bloom_has_no_false_negatives(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    keys = orders.filter(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey")
    bloom = bloom_build(keys, "o_orderkey")
    probed = (
        keys.crossJoin(F.broadcast(bloom))
        .filter(~bloom_probe(F.col("bloom"), F.col("o_orderkey")))
        .count()
    )
    assert probed == 0, "a bloom filter must never reject a member"


def test_bloom_prefilter_is_selective(spark, sf_dir):
    """The bitmap must actually drop most non-matching fact rows."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    keys = orders.filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
    ).select("o_orderkey")
    bloom = bloom_build(keys, "o_orderkey")
    total = lineitem.count()
    candidates = (
        lineitem.crossJoin(F.broadcast(bloom))
        .filter(bloom_probe(F.col("bloom"), F.col("l_orderkey")))
        .count()
    )
    true_matches = lineitem.join(
        keys, lineitem["l_orderkey"] == keys["o_orderkey"], "left_semi"
    ).count()
    assert candidates >= true_matches
    # false-positive overhead stays small relative to the rows dropped
    assert candidates - true_matches < 0.05 * total


def test_bf01_equals_plain_semi_join(spark, sf_dir):
    via_bloom = {
        r["l_returnflag"]: (r["n_items"], r["sum_qty"])
        for r in bf01_bloom_join_prefilter(spark, sf_dir).collect()
    }
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    keys = orders.filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
    ).select("o_orderkey")
    plain = {
        r["l_returnflag"]: (r["n_items"], r["sum_qty"])
        for r in lineitem.join(
            keys, lineitem["l_orderkey"] == keys["o_orderkey"], "left_semi"
        )
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(F.floor("l_quantity")).alias("sum_qty"),
        )
        .collect()
    }
    assert via_bloom == plain


def _inertia(assigned, centroids):
    cents = {cid: vec for cid, vec in centroids}
    total = 0.0
    for r in assigned.collect():
        c = cents[r["cluster"]]
        total += sum((x - y) ** 2 for x, y in zip(r["v"], c))
    return total


def test_ml01_lloyd_iteration_reduces_inertia(spark, sf_dir):
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v"))
    )
    init_rows = emb.orderBy("vec_id").limit(K).collect()
    cents0 = [(i, list(r["v"])) for i, r in enumerate(init_rows)]
    a0 = _assign(emb, cents0)
    cents1 = _recompute(a0)
    a1 = _assign(emb, cents1)
    # every cluster id is in range and all K get members on this data
    clusters = {r["cluster"] for r in a1.collect()}
    assert clusters <= set(range(K))
    assert len(clusters) == K
    # Lloyd's monotonicity: recomputed centroids never increase inertia
    assert _inertia(a0, cents1) <= _inertia(a0, cents0) + 1e-9
    assert _inertia(a1, cents1) <= _inertia(a0, cents1) + 1e-9


def test_ml01_assignment_is_nearest_centroid(spark, sf_dir):
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v"))
    )
    init_rows = emb.orderBy("vec_id").limit(K).collect()
    cents = [(i, list(r["v"])) for i, r in enumerate(init_rows)]
    sample = _assign(emb, cents).limit(20).collect()
    for r in sample:
        dists = [
            (sum((x - y) ** 2 for x, y in zip(r["v"], vec)), cid) for cid, vec in cents
        ]
        assert min(dists)[1] == r["cluster"]


def test_ml03_blocking_recall_vs_bruteforce(spark, sf_dir):
    """Measure (not just assert) the recall cost of k-means blocking.

    Every within-cluster pair ml03 scores must also be a brute-force
    near-dup pair (precision = 1 by construction: the cosine test is
    exact); the blocked pair set must recover a large majority of the
    brute-force pairs on this corpus.
    """
    from chicago_business_owners_data_engineering_spark.operators.clustering import (
        SEMDEDUP_COS,
        kmeans_probes,
    )
    from chicago_business_owners_data_engineering_spark.operators.similarity import (
        sim02_near_dup_vectors,
    )

    brute = {
        (r["vec_a"], r["vec_b"])
        for r in sim02_near_dup_vectors(spark, sf_dir).collect()
        if r["cos_sim"] >= SEMDEDUP_COS
    }
    probes: dict[int, set] = {}
    for r in kmeans_probes(spark, sf_dir).collect():
        probes.setdefault(r["vec_id"], set()).add(r["probe"])
    blocked = {(a, b) for (a, b) in brute if probes[a] & probes[b]}
    assert blocked <= brute
    # multi-probe blocking keeps most near-dup pairs: boundary pairs
    # are co-blocked through their second-nearest cell
    assert len(blocked) >= 0.7 * len(brute), (len(blocked), len(brute))


def test_sim09_pq_recall_vs_exact(spark, sf_dir):
    """PQ+ADC+re-rank must recover most of the exact top-k."""
    from chicago_business_owners_data_engineering_spark.operators.similarity import (
        TOP_K,
        sim01_bruteforce_topk,
        sim09_pq_topk,
    )

    exact_ids = [r["vec_id"] for r in sim01_bruteforce_topk(spark, sf_dir).collect()]
    # sim01 ranks by cosine, sim09 by L2 — compare against the L2 truth
    from chicago_business_owners_data_engineering_spark.catalog import load_table
    from pyspark.sql import functions as F
    from chicago_business_owners_data_engineering_spark.operators.similarity import QUERY_VEC_ID

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    qv = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select("v").collect()[0]["v"]
    q_lit = F.array(*[F.lit(float(x)) for x in qv])
    dist = F.sqrt(
        F.aggregate(
            F.zip_with("v", q_lit, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda a, x: a + x,
        )
    )
    truth = [
        r["vec_id"]
        for r in emb.filter(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id", dist.alias("d"))
        .orderBy("d", "vec_id")
        .limit(TOP_K)
        .collect()
    ]
    got = [r["vec_id"] for r in sim09_pq_topk(spark, sf_dir).collect()]
    overlap = len(set(got) & set(truth))
    assert overlap >= 0.5 * TOP_K, (overlap, got, truth)
    assert len(got) == TOP_K
    assert exact_ids  # sim01 sanity


def test_sim10_opq_rotation_properties(spark, sf_dir):
    """The learned rotation must be orthogonal, an exact isometry, and
    allocate balanced variance to the subspaces."""
    import numpy as np

    from chicago_business_owners_data_engineering_spark.operators.similarity import (
        PQ_DSUB,
        PQ_M,
        _opq_rotation,
    )

    rng = np.random.default_rng(3)
    # Anisotropic sample: per-dim scales spanning ~6x, like real
    # embedding spectra (and this corpus's 0.007-0.029 eigen spread).
    X = rng.normal(size=(400, PQ_M * PQ_DSUB)) * np.linspace(0.5, 3.0, PQ_M * PQ_DSUB)
    mu, R = _opq_rotation(X)
    assert np.allclose(R @ R.T, np.eye(R.shape[0]), atol=1e-10)
    a, b = X[0], X[1]
    ra, rb = R @ (a - mu), R @ (b - mu)
    assert np.isclose(
        np.linalg.norm(a - b), np.linalg.norm(ra - rb), rtol=1e-12
    )
    # Balanced allocation: the spread of per-subspace log-variance
    # products must collapse relative to the unrotated dim-block split
    # (here: orders of magnitude down to ~1 order).
    def spread(M):
        logs = [
            np.log(M[:, m * PQ_DSUB : (m + 1) * PQ_DSUB].var(axis=0)).sum()
            for m in range(PQ_M)
        ]
        return max(logs) - min(logs)

    rotated, unrotated = spread((X - mu) @ R.T), spread(X)
    assert rotated < unrotated / 4, (rotated, unrotated)
    assert rotated < np.log(20), rotated


def test_sim10_opq_training_and_aggregate_recall(spark, sf_dir):
    """OPQ-NP's two claims, each tested at the level it is actually
    made: (1) alternating training monotonically reduces the sample
    quantization MSE, below plain PQ's raw-vector-codeword scheme;
    (2) AGGREGATE candidate recall over a panel of queries beats the
    plain scheme (per-query recall is noisy — a single query can favor
    either quantizer, so the single-query form is only floor-checked
    in test_sim10_runs_end_to_end)."""
    import numpy as np

    from chicago_business_owners_data_engineering_spark.operators.similarity import (
        PQ_DSUB,
        PQ_M,
        PQ_NCODES,
        PQ_RERANK,
        TOP_K,
        _opq_train,
    )

    import duckdb

    con = duckdb.connect()
    df = con.execute(
        f"SELECT vec_id, embedding FROM '{sf_dir}/embeddings.parquet' ORDER BY vec_id"
    ).df()
    X = np.array([np.array(e, dtype=float) for e in df["embedding"]])
    ids = df["vec_id"].to_numpy()

    mu, R, cb_np, hist = _opq_train(X[:1024])
    # (1) training reduces reconstruction error, monotone first->last
    assert hist[-1] <= hist[0], hist
    # ...and beats sim09's raw-vector codewords at reconstruction
    cb9 = [
        [list(X[c][m * PQ_DSUB : (m + 1) * PQ_DSUB]) for c in range(PQ_NCODES)]
        for m in range(PQ_M)
    ]

    def reconstruct_mse(Y, cb):
        err = 0.0
        for m in range(PQ_M):
            sub = Y[:, m * PQ_DSUB : (m + 1) * PQ_DSUB]
            C = np.array(cb[m])
            d2 = ((sub[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            err += d2.min(axis=1).sum()
        return err / Y.size

    assert hist[-1] < reconstruct_mse(X[:1024], cb9), (hist[-1],)

    # (2) aggregate candidate recall over a query panel
    def panel_recall(rot, cb, queries):
        hits = 0
        for qid in queries:
            q = X[ids == qid][0]
            mask = ids != qid
            Xc, idc = X[mask], ids[mask]
            Y, qr = rot(Xc), rot(q[None, :])[0]
            ad = np.zeros(len(Y))
            for m in range(PQ_M):
                sub = Y[:, m * PQ_DSUB : (m + 1) * PQ_DSUB]
                C = np.array(cb[m])
                codes = ((sub[:, None, :] - C[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
                lut = ((qr[m * PQ_DSUB : (m + 1) * PQ_DSUB][None, :] - C) ** 2).sum(axis=1)
                ad += lut[codes]
            true_d = np.linalg.norm(Xc - q, axis=1)
            truth = set(idc[np.lexsort((idc, true_d))][:TOP_K])
            cand = set(idc[np.lexsort((idc, ad))][:PQ_RERANK])
            hits += len(cand & truth)
        return hits / (len(queries) * TOP_K)

    queries = [int(q) for q in ids[:: max(1, len(ids) // 20)][:20]]
    r_opq = panel_recall(lambda A: (A - mu) @ R.T, cb_np, queries)
    r_pq = panel_recall(lambda A: A, cb9, queries)
    assert r_opq >= r_pq, (r_opq, r_pq)
    assert r_opq >= 0.4, r_opq


def test_sim10_runs_end_to_end(spark, sf_dir):
    """The Spark execution path: full k rows out, and a loose floor on
    the single fixed query's recall (approximate method, small RERANK)."""
    from pyspark.sql import functions as F

    from chicago_business_owners_data_engineering_spark.catalog import load_table
    from chicago_business_owners_data_engineering_spark.operators.similarity import (
        QUERY_VEC_ID,
        TOP_K,
        sim10_opq_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    qv = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select("v").collect()[0]["v"]
    q_lit = F.array(*[F.lit(float(x)) for x in qv])
    dist = F.sqrt(
        F.aggregate(
            F.zip_with("v", q_lit, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda a, x: a + x,
        )
    )
    truth = {
        r["vec_id"]
        for r in emb.filter(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id", dist.alias("d"))
        .orderBy("d", "vec_id")
        .limit(TOP_K)
        .collect()
    }
    opq = [r["vec_id"] for r in sim10_opq_topk(spark, sf_dir).collect()]
    assert len(opq) == TOP_K
    assert len(set(opq) & truth) >= 0.3 * TOP_K, (sorted(opq), sorted(truth))


def test_ml04_dbscan_invariants(spark, sf_dir):
    """Recompute the DBSCAN definition in plain Python over the same
    blocked candidate universe and assert every role, edge, and survivor
    rule ml04 claims: core ⇔ ≥ MIN_PTS blocked neighbors, border ⇔
    non-core with a core neighbor, core-core neighbors share a cluster,
    and keep = noise ∪ one canonical (min vec_id) per cluster."""
    import math

    from chicago_business_owners_data_engineering_spark.operators.clustering import (
        DBSCAN_COS,
        DBSCAN_MIN_PTS,
        kmeans_probes,
        ml04_density_dedup,
    )

    vecs: dict[int, list] = {}
    probes: dict[int, set] = {}
    for r in kmeans_probes(spark, sf_dir).collect():
        vecs[r["vec_id"]] = list(r["v"])
        probes.setdefault(r["vec_id"], set()).add(r["probe"])

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b)))

    ids = sorted(vecs)
    nbrs: dict[int, set] = {i: set() for i in ids}
    for i in ids:
        for j in ids:
            if i < j and probes[i] & probes[j] and cos(vecs[i], vecs[j]) >= DBSCAN_COS:
                nbrs[i].add(j)
                nbrs[j].add(i)
    cores = {i for i in ids if len(nbrs[i]) >= DBSCAN_MIN_PTS}

    out = {r["vec_id"]: r for r in ml04_density_dedup(spark, sf_dir).collect()}
    assert set(out) == set(ids)
    by_cluster: dict[int, list] = {}
    for i, r in out.items():
        if r["role"] == "core":
            assert i in cores
        elif r["role"] == "border":
            assert i not in cores and nbrs[i] & cores, i
        else:
            assert i not in cores and not (nbrs[i] & cores), i
            assert r["cluster"] == -1 and r["keep"]
        if r["cluster"] != -1:
            by_cluster.setdefault(r["cluster"], []).append(i)
    # core-core neighbor edges never straddle clusters
    for i in cores:
        for j in nbrs[i]:
            if j in cores:
                assert out[i]["cluster"] == out[j]["cluster"], (i, j)
    # exactly one survivor per cluster: its min member, which labels it
    for c, members in by_cluster.items():
        keepers = [i for i in members if out[i]["keep"]]
        assert keepers == [min(members)], (c, keepers)


def test_ml04_majority_noise_no_window_skew(spark, sf_dir):
    """Planted-skew guard (VERDICT r10 #2): with a near-impossible
    cosine threshold almost every point is noise (cluster = -1). The
    r10 survivor window — MIN(vec_id) OVER (PARTITION BY cluster) —
    sent ALL of those rows to one window partition; the r11 form
    aggregates mins over clustered rows only and broadcast-joins them
    back, so the majority-noise case has no hot key at all. Assert the
    plan shape (no Window node survives; the min attach is a broadcast
    join) and the semantics (every noise row keeps; per-cluster
    survivor = min member) on the skewed fixture."""
    from chicago_business_owners_data_engineering_spark.operators.clustering import (
        dbscan_density_dedup,
    )

    df = dbscan_density_dedup(spark, sf_dir, cos_threshold=0.9999)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, "survivor min must not be a window at scale"
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    rows = df.collect()
    noise = [r for r in rows if r["cluster"] == -1]
    assert len(noise) >= 0.9 * len(rows), "fixture must be majority-noise"
    assert all(r["keep"] for r in noise)
    by_cluster: dict[int, list] = {}
    for r in rows:
        if r["cluster"] != -1:
            by_cluster.setdefault(r["cluster"], []).append(r)
    for c, members in by_cluster.items():
        keepers = sorted(m["vec_id"] for m in members if m["keep"])
        assert keepers == [min(m["vec_id"] for m in members)], c


def test_er04_field_rules_on_real_clusters(spark, sf_dir):
    """er04's survivorship invariants on the real match graph: every
    golden field value actually occurs inside its entity, the mode is
    genuinely most-frequent (with lexicographic min on ties), and spans
    bound every member."""
    from collections import Counter

    from chicago_business_owners_data_engineering_spark.operators.graph import (
        components_large_small_star,
    )
    from chicago_business_owners_data_engineering_spark.operators.linkage import (
        _blocked_pairs,
        er04_golden_record,
    )

    part = load_table(spark, sf_dir, "part")
    pairs = _blocked_pairs(part).select(
        F.col("part_a").alias("doc_a"), F.col("part_b").alias("doc_b")
    )
    comp = {
        r.doc_id: r.component for r in components_large_small_star(pairs).collect()
    }
    members: dict[int, list] = {}
    for p in part.collect():
        if p.p_partkey in comp:
            members.setdefault(comp[p.p_partkey], []).append(p)

    got = er04_golden_record(spark, sf_dir).collect()
    assert got, "no multi-member entities at this SF"
    for r in got:
        ms = members[r.entity_id]
        assert r.n_members == len(ms) > 1
        brands = Counter(m.p_brand for m in ms)
        best = max(brands.values())
        assert brands[r.brand] == best
        assert r.brand == min(b for b, c in brands.items() if c == best)
        types = Counter(m.p_type for m in ms)
        bestt = max(types.values())
        assert types[r.type] == bestt
        assert r.type == min(t for t, c in types.items() if c == bestt)
        assert r.size_min == min(m.p_size for m in ms)
        assert r.size_max == max(m.p_size for m in ms)
        assert r.price_cents_min == min(round(m.p_retailprice * 100) for m in ms)


def test_inc03_distinct_state_never_double_counts(spark, tmp_path):
    """inc03's defining hazard: a user active in BOTH the stored state
    and the late-arriving delta on the same day must count once.
    event_id 0 and 5 form the delta (id %% 5 == 0); id 0 repeats a
    (day, user) pair the state already holds."""
    from chicago_business_owners_data_engineering_spark.registry import QUERIES

    rows = [
        # 2024-05-31 (base day): users 1, 2
        (0, "2024-05-31 10:00:00", 1),
        (1, "2024-05-31 11:00:00", 2),
        (2, "2024-05-31 12:00:00", 1),  # dup inside base
        # 2024-06-02 (delta day): user 1 twice, user 3 once
        (3, "2024-06-02 10:00:00", 1),
        (4, "2024-06-02 11:00:00", 1),
        (5, "2024-06-02 12:00:00", 3),
    ]
    spark.createDataFrame(
        rows, "event_id long, ts_s string, user_id long"
    ).select(
        "event_id",
        F.col("ts_s").cast("timestamp").alias("ts"),
        "user_id",
        F.lit("click").alias("event_type"),
        F.lit(1.0).alias("value"),
        F.lit("{}").alias("props"),
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    got = {
        r.day: r.n_users
        for r in QUERIES["inc03_incremental_distinct"](spark, str(tmp_path)).collect()
    }
    assert got == {"2024-05-31": 2, "2024-06-02": 2}
