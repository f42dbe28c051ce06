"""Distributed k-means over the embeddings table (beyond-reference, §2.11).

Embedding-space clustering is the semantic-dedup / corpus-mapping
primitive a training-data pipeline runs right after embedding: cluster,
then sample per cluster (coverage) or drop near-empty clusters (noise).
sim03's IVF index already builds one k-means-ish centroid pass; this
module is the full iterative Lloyd's algorithm in its scale-correct
dataflow form:

- **Assignment is map-side only.** Centroids are k·d doubles — driver
  material by definition (MLlib's KMeans does the same) — collected
  once per iteration and re-broadcast as an array literal, so assigning
  a vector is a per-row array_min over k distances: zero shuffle, no
  matter how many billion rows the corpus has.
- **The update step is one partial-agg shuffle.** Recomputing centroids
  = explode (cluster, dim, value) and average per (cluster, dim) —
  map-side combine reduces every partition to at most k·d rows before
  the exchange, so the shuffle moves O(partitions · k · d), not O(rows).
- Deterministic everywhere: init = the k lowest vec_ids, distance in
  float64, argmin tiebreak on (distance, cluster_id) — bit-matched by
  the DuckDB recursive-CTE-free oracle twin so the differential check
  covers the whole two-iteration trajectory.

Iterations are fixed (ITERATIONS=2) rather than convergence-tested so
the oracle SQL can mirror the exact trajectory; the loop body is the
same either way (components_large_small_star in graph.py shows the
fixpoint-loop variant of driver-coordinated iteration).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import generation, load_table, spread_scan
from ..functions.sampling import md5_bucket
from ..functions.text import hashed_tokens
from ..registry import query
from .shared_oracles import (
    EMB_DIM as DIM,
    KMEANS_K as K,
    KMEANS_N_PROBES,
    KMEANS_PROBES_CTE,
    KMEANS_TRAJECTORY_CTE,
    cos_sql,
)

ITERATIONS = 2


def _centroid_dists(centroids: list[tuple[int, list[float]]]) -> Column:
    """struct(d, cid) per centroid: the squared L2 distance from the
    vector column ``v`` to each centroid of the broadcast literal.
    Ordering these structs ranks centroids by (distance, cluster id);
    sqrt is monotonic, so squared distance orders identically to the
    oracle's list_distance."""
    from .similarity import sq_l2

    cent_arr = F.array(
        *[
            F.struct(
                F.array(*[F.lit(float(x)) for x in vec]).alias("c"),
                F.lit(cid).alias("cid"),
            )
            for cid, vec in centroids
        ]
    )
    return F.transform(
        cent_arr,
        lambda s: F.struct(sq_l2(F.col("v"), s["c"]).alias("d"), s["cid"].alias("cid")),
    )


def _assign(emb: DataFrame, centroids: list[tuple[int, list[float]]]) -> DataFrame:
    """Map-side cluster assignment against a broadcast centroid literal:
    ``array_min`` picks the nearest centroid, ties to the lowest
    cluster id, inside whole-stage codegen."""
    best = F.array_min(_centroid_dists(centroids))
    return emb.select(
        "vec_id", "v", best["cid"].alias("cluster"), best["d"].alias("dist_sq")
    )


def _recompute(assigned: DataFrame) -> list[tuple[int, list[float]]]:
    """Update step: mean per (cluster, dim) → k·d rows → driver.

    posexplode keeps the dim index; the groupBy has map-side combine so
    the exchange carries at most partitions·k·d rows. The k·d result is
    driver-sized by construction.
    """
    rows = (
        assigned.select("cluster", F.posexplode("v").alias("dim", "x"))
        .groupBy("cluster", "dim")
        .agg(F.avg("x").alias("cx"))
        .collect()
    )
    by_cluster: dict[int, dict[int, float]] = {}
    for r in rows:
        by_cluster.setdefault(r["cluster"], {})[r["dim"]] = r["cx"]
    return [
        (cid, [dims[d] for d in range(DIM)]) for cid, dims in sorted(by_cluster.items())
    ]


# The DuckDB trajectory replay lives in shared_oracles (registry-free,
# so peer modules can compose it at decoration time); alias kept for
# this module's own oracle compositions.
_KMEANS_CTE = KMEANS_TRAJECTORY_CTE


def _emb_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, v float64) over the spread embeddings scan."""
    embeddings = spread_scan(load_table(spark, sf_dir, "embeddings"))
    return embeddings.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )


def lloyd_centroids(
    spark: SparkSession, sf_dir: str, k: int = K
) -> list[tuple[int, list[float]]]:
    """The final centroid list after ITERATIONS Lloyd rounds — the ONE
    driver-side trajectory every k-means consumer shares. Compositions
    that run several k-means-blocked stages in one job (the vector
    pipeline: assignments + semantic dedup) compute this once and pass
    it down instead of replaying init + recompute per stage (r11 —
    guide §1.2, don't compute things twice; the trajectory is a pure
    function of the data so sharing it within a run changes nothing).
    """
    emb = _emb_vectors(spark, sf_dir)
    init_rows = emb.orderBy("vec_id").limit(k).collect()
    centroids = [(i, list(r["v"])) for i, r in enumerate(init_rows)]
    for _ in range(ITERATIONS - 1):
        centroids = _recompute(_assign(emb, centroids))
    return centroids


def kmeans_assignments(
    spark: SparkSession,
    sf_dir: str,
    centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """(vec_id, v, cluster, dist_sq) after ITERATIONS Lloyd rounds.

    ``centroids`` short-circuits the trajectory with a precomputed
    final list (identical by construction when it came from
    :func:`lloyd_centroids` over the same data).
    """
    emb = _emb_vectors(spark, sf_dir)
    if centroids is None:
        centroids = lloyd_centroids(spark, sf_dir)
    return _assign(emb, centroids)


@query(
    "ml01_kmeans_lloyd",
    oracle=_KMEANS_CTE
    + """
    SELECT vec_id, cid AS cluster FROM d2 WHERE rn = 1 ORDER BY vec_id
    """,
)
def ml01_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two Lloyd iterations of k-means over embeddings; final assignment.

    See the module docstring for the scale argument (map-side assign,
    partial-agg update). The DuckDB oracle replays the identical
    trajectory — same init, same float64 distances, same (dist, cid)
    tiebreak — so the hash comparison certifies every assignment after
    the second iteration, not just cluster counts.
    """
    return kmeans_assignments(spark, sf_dir).select("vec_id", "cluster").orderBy("vec_id")


# Representatives per cluster for ml02.
REPS_PER_CLUSTER = 5


@query(
    "ml02_cluster_representatives",
    oracle=_KMEANS_CTE
    + f"""
    , final AS (
        SELECT vec_id, cid AS cluster, dist FROM d2 WHERE rn = 1
    ), ranked AS (
        SELECT cluster, vec_id, dist,
               ROW_NUMBER() OVER (PARTITION BY cluster
                                  ORDER BY dist, vec_id) AS rep_rank
        FROM final
    )
    SELECT cluster, rep_rank, vec_id, ROUND(dist, 6) AS dist
    FROM ranked WHERE rep_rank <= {REPS_PER_CLUSTER}
    ORDER BY cluster, rep_rank
    """,
)
def ml02_cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster representative vectors: the m closest to each centroid.

    The corpus-mapping step after clustering — each cluster is
    summarized by its most central members (the "prototypes" a human
    or a labeling model inspects). Top-m per group runs as a window
    rank over the (tiny, map-side-computed) assignment relation; at
    scale the partitionBy(cluster) shuffle moves one row per vector,
    and the rank early-outs at m per cluster. Distance is rounded
    identically on both engines: sqrt and the left-fold summation
    order match DuckDB's list_distance bit-for-bit on this data.
    """
    from pyspark.sql import Window

    assigned = kmeans_assignments(spark, sf_dir)
    w = Window.partitionBy("cluster").orderBy(F.sqrt("dist_sq"), F.col("vec_id"))
    return (
        assigned.withColumn("rep_rank", F.row_number().over(w))
        .filter(F.col("rep_rank") <= REPS_PER_CLUSTER)
        .select(
            "cluster",
            "rep_rank",
            "vec_id",
            F.round(F.sqrt("dist_sq"), 6).alias("dist"),
        )
        .orderBy("cluster", "rep_rank")
    )


# Semantic-dedup cosine threshold — matches sim02's near-dup baseline so
# the recall pytest can compare against the brute-force pair set.
SEMDEDUP_COS = 0.4
# Multi-probe width: each vector blocks into its N_PROBES nearest cells.
# Single-probe recall on this corpus is ~35% (θ=0.4 near-dups are not
# extremely close, so they often straddle a Voronoi boundary); 2-probe
# recovers ~80% for a ≤4× candidate-count increase.
N_PROBES = KMEANS_N_PROBES


def kmeans_probes(
    spark: SparkSession,
    sf_dir: str,
    k: int = K,
    n_probes: int = N_PROBES,
    centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """(vec_id, v, probe) — each vector exploded to its ``n_probes``
    nearest final centroids, ordered by (distance, cid) like the
    assignment. The registry query pins k=K for oracle comparability;
    production corpora pass k ∝ corpus size (SemDeDup keeps
    cells roughly constant-sized so the in-cell quadratic stays flat —
    see SCALE_PROBE.md). ``centroids`` (must match ``k``) reuses a
    precomputed :func:`lloyd_centroids` trajectory."""
    emb = _emb_vectors(spark, sf_dir)
    if centroids is None:
        centroids = lloyd_centroids(spark, sf_dir, k=k)
    top = F.slice(F.array_sort(_centroid_dists(centroids)), 1, n_probes)
    return emb.select(
        "vec_id", "v", F.explode(F.transform(top, lambda s: s["cid"])).alias("probe")
    )


def _near_pairs(probes: DataFrame, cos_threshold: float, names: tuple[str, str]) -> DataFrame:
    """Canonical blocked pairs (a < b) of a ``kmeans_probes`` relation
    with cosine ≥ ``cos_threshold`` (ml03, ml04). Each (vector, probe)
    row is normalized ONCE, so cosine costs a single dot fold per
    candidate pair instead of a dot plus two norm folds (3× less array
    work in the quadratic stage; identical pair set, the division
    merely moves before the sum)."""
    from .similarity import dot, salted_cell_join, unit

    sides = probes.select("vec_id", "probe", unit(F.col("v")).alias("vn"))
    return salted_cell_join(
        sides,
        sides,
        names,
        where=dot(F.col("a.vn"), F.col("b.vn")) >= F.lit(cos_threshold),
    )


def _knn_candidates(spark: SparkSession, sf_dir: str, k: int, n_probes: int) -> DataFrame:
    """(qid, nid, cs): every blocked neighbor of every vector with its
    exact cosine (sim13, ml09). Each pair is scored ONCE in canonical
    (a < b) orientation, then symmetrized: cosine is bitwise
    orientation-invariant (per-element IEEE multiplies commute and the
    fold order is the element order, norm·norm likewise), so half the
    quadratic stage's cosine evaluations and half the dedup shuffle buy
    the identical candidate relation. NOT pinned (the ml03/ml04 lesson,
    r10): the candidate relation is consumed once, so persisting the
    probes side just adds a materialization barrier."""
    from .similarity import cosine, salted_cell_join

    sides = kmeans_probes(spark, sf_dir, k=k, n_probes=n_probes)  # (vec_id, v, probe)
    half = salted_cell_join(
        sides, sides, ("qid", "nid"), cosine(F.col("a.v"), F.col("b.v")).alias("cs")
    )
    return half.unionByName(
        half.select(F.col("nid").alias("qid"), F.col("qid").alias("nid"), F.col("cs"))
    )


@query(
    "ml03_semantic_dedup",
    oracle=_KMEANS_CTE
    + KMEANS_PROBES_CTE
    + f"""
    , spairs AS (
        SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM probes a JOIN probes b
          ON a.probe = b.probe AND a.vec_id < b.vec_id
        WHERE {cos_sql("a.v", "b.v")} >= {SEMDEDUP_COS}
    ), edges AS (
        SELECT vec_a AS src, vec_b AS dst FROM spairs
        UNION ALL
        SELECT vec_b, vec_a FROM spairs
    ), reach(node, r) AS (
        SELECT DISTINCT src, src FROM edges
        UNION
        SELECT e.dst, r.r FROM reach r JOIN edges e ON r.node = e.src
    ), comp AS (
        SELECT node AS vec_id, MIN(r) AS component FROM reach GROUP BY node
    )
    SELECT vec_id, component, vec_id = component AS keep
    FROM comp ORDER BY vec_id
    """,
)
def ml03_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shaped semantic dedup: multi-probe k-means blocking →
    cosine pairs → components → one survivor per component.

    The embedding twin of the MinHash-LSH text path (dd04→dd06→dd07),
    with CLUSTERING as the blocking function: candidate pairs are only
    scored when the two vectors share one of their N_PROBES nearest
    cells, so the pair count is Σ (probe-cell)², never n² — how
    SemDeDup-style corpus dedup stays tractable at billions of vectors
    (k grows with the corpus; here k=8 on 500-5000 vectors keeps cells
    in the hundreds). Multi-probe is the recall lever: boundary pairs
    that single-assignment blocking splits are co-blocked through the
    second-nearest cell (~35% → ~80% recall on this corpus, measured by
    the pytest against sim02's brute-force pair set). The DuckDB oracle
    replays the same trajectory AND the same blocking, so the
    differential check is exact, not probabilistic.

    Components reuse the near-dup min-label propagation; the survivor
    per component is its min vec_id (= the component label), mirroring
    dd07's canonical selection with the simplest deterministic rule.
    """
    return semantic_dedup_components(spark, sf_dir)


def semantic_dedup_components(
    spark: SparkSession,
    sf_dir: str,
    k: int = K,
    cos_threshold: float = SEMDEDUP_COS,
    n_probes: int = N_PROBES,
    centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """The parameterized engine behind ml03 (same plan, tunable knobs).

    The registry query pins (k=8, θ=0.4) for oracle comparability; at
    production scale pass θ≈0.9+ (a duplicate threshold OUTSIDE the
    random-cosine tail — θ=0.4 sits inside it for this 64-dim corpus,
    so output pair density grows with corpus size; measured in
    SCALE_PROBE.md) and k ∝ corpus size (constant cell width keeps the
    in-cell quadratic flat per SemDeDup).
    """
    from .graph import components_large_small_star

    # NOT pinned (measured, r10): unlike ml04, the pair relation here
    # is consumed exactly once (the eager component fixpoint), so a
    # persist of the probes side trades two fully-parallel inline
    # probes passes for a materialization barrier + cache round-trip —
    # measured 4.7 s → 7.7 s median at sf0.1, a regression. Recompute
    # of a cheap per-row projection beats a persist when nothing
    # downstream reuses it.
    pairs = _near_pairs(
        kmeans_probes(spark, sf_dir, k=k, n_probes=n_probes, centroids=centroids),
        cos_threshold,
        ("doc_a", "doc_b"),
    )
    comp = components_large_small_star(pairs)
    return (
        comp.select(
            F.col("doc_id").alias("vec_id"),
            F.col("component"),
            (F.col("doc_id") == F.col("component")).alias("keep"),
        )
        .orderBy("vec_id")
    )


@query(
    "sim13_knn_join",
    oracle=_KMEANS_CTE
    + KMEANS_PROBES_CTE
    + f"""
    , cand AS (
        SELECT DISTINCT a.vec_id AS qid, b.vec_id AS nid, {cos_sql("a.v", "b.v")} AS cs
        FROM probes a JOIN probes b
          ON a.probe = b.probe AND a.vec_id <> b.vec_id
    ), ranked AS (
        SELECT qid, nid, cs,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY cs DESC, nid) AS rn
        FROM cand
    )
    SELECT qid AS vec_id, nid AS nn_id, ROUND(cs, 6) AS nn_cos
    FROM ranked WHERE rn = 1 ORDER BY vec_id
    """,
)
def sim13_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic nearest-neighbor JOIN: every vector finds its top-1
    neighbor through the multi-probe k-means blocking.

    The batch shape missing between single-query search (sim01/sim03),
    fixed-panel batch (sim07), and threshold all-pairs (ml03): the
    corpus joined against ITSELF, one best match per row — the workhorse
    behind semantic labeling ("tag each doc with its closest curated
    exemplar"), transfer filtering, and retrieval-augmented dedup.
    Candidates are only pairs sharing one of their N_PROBES nearest
    cells, so the pair count is Σ (probe-cell)², never n² — the same
    blocking bound as ml03 — and the top-1-per-query window runs over
    that bounded candidate relation with an early-out rank. The same
    salting recipe as ml03 stripes each cell's pair grid across tasks.

    Exactness: cosine is computed as dot/(norm·norm) on the RAW double
    vectors in the same element-order fold as DuckDB's
    LIST_DOT_PRODUCT — no pre-normalization — because here the score is
    IN the output and drives the (cs DESC, nid) ranking, so both
    engines must agree to the last bit, not merely on a threshold.

    Parity: SURVEY.md §2.11 similarity family; composition of the
    reference's embedding-search surface into its batch-join form.

    SCALE NOTE (measured, SCALE_PROBE.md): at FIXED k the per-cell
    population grows with the corpus, so candidate pairs grow
    quadratically — the probe flagged exactly this (exponent 1.74 at
    10× with k=8). The registry pins k=8 for oracle comparability;
    production calls :func:`knn_join_topk` with k ∝ corpus size
    (constant cell width), which the probe's scaled-k pseudo-query
    shows restores linear behavior.
    """
    return knn_join_topk(spark, sf_dir)


def knn_join_topk(
    spark: SparkSession, sf_dir: str, k: int = K, n_probes: int = N_PROBES
) -> DataFrame:
    """Parameterized engine behind sim13 — same plan, tunable blocking.

    ``k`` is THE scale knob: candidate pairs per cell ≈ (n/k)², so
    holding cell width constant (k ∝ corpus size) keeps total candidate
    work linear. ``n_probes`` trades recall for candidate volume
    exactly as in ml03.
    """
    from pyspark.sql import Window

    cand = _knn_candidates(spark, sf_dir, k, n_probes)
    w = Window.partitionBy("qid").orderBy(F.desc("cs"), F.asc("nid"))
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("qid").alias("vec_id"),
            F.col("nid").alias("nn_id"),
            F.round("cs", 6).alias("nn_cos"),
        )
        .orderBy("vec_id")
    )


# --- ml04: density-based dedup (DBSCAN over blocked candidates) -------------

# DBSCAN eps in cosine-similarity form: two vectors are neighbors when
# cos >= DBSCAN_COS. 0.35 sits below the sim02/ml03 near-dup threshold
# (0.4) so the density graph is denser than the dedup graph — the point
# of the operator is separating DENSE regions (templated/boilerplate
# content) from sparse ones, not finding near-identical pairs.
DBSCAN_COS = 0.35
# Core point: >= MIN_PTS candidate neighbors at the threshold (self
# excluded — DBSCAN's minPts counts the point itself; 2 here ~ minPts=3).
DBSCAN_MIN_PTS = 2


@query(
    "ml04_density_dedup",
    oracle=KMEANS_TRAJECTORY_CTE
    + KMEANS_PROBES_CTE
    + f"""
    , cpairs AS (
        SELECT DISTINCT a.vec_id AS vid, b.vec_id AS nb
        FROM probes a JOIN probes b
          ON a.probe = b.probe AND a.vec_id <> b.vec_id
        WHERE {cos_sql("a.v", "b.v")} >= {DBSCAN_COS}
    ), core AS (
        SELECT vid FROM cpairs GROUP BY vid HAVING COUNT(*) >= {DBSCAN_MIN_PTS}
    ), cedge AS (
        SELECT p.vid AS src, p.nb AS dst
        FROM cpairs p JOIN core c1 ON p.vid = c1.vid JOIN core c2 ON p.nb = c2.vid
    ), reach(node, r) AS (
        SELECT DISTINCT src, src FROM cedge
        UNION
        SELECT e.dst, r.r FROM reach r JOIN cedge e ON r.node = e.src
    ), comp AS (
        SELECT node AS vid, MIN(r) AS component FROM reach GROUP BY node
    ), corec AS (
        SELECT c.vid, COALESCE(comp.component, c.vid) AS cluster
        FROM core c LEFT JOIN comp ON c.vid = comp.vid
    ), borderc AS (
        SELECT p.vid, MIN(cc.cluster) AS cluster
        FROM cpairs p JOIN corec cc ON p.nb = cc.vid
        WHERE p.vid NOT IN (SELECT vid FROM core)
        GROUP BY p.vid
    ), rolec AS (
        SELECT e.vec_id,
               CASE WHEN cc.vid IS NOT NULL THEN 'core'
                    WHEN bc.vid IS NOT NULL THEN 'border'
                    ELSE 'noise' END AS role,
               COALESCE(cc.cluster, bc.cluster, -1) AS cluster
        FROM emb e
        LEFT JOIN corec cc ON e.vec_id = cc.vid
        LEFT JOIN borderc bc ON e.vec_id = bc.vid
    ), cmin AS (
        SELECT cluster, MIN(vec_id) AS canon
        FROM rolec WHERE cluster <> -1 GROUP BY cluster
    )
    SELECT r.vec_id, r.role, r.cluster,
           (r.cluster = -1 OR r.vec_id = c.canon) AS keep
    FROM rolec r LEFT JOIN cmin c ON r.cluster = c.cluster
    ORDER BY r.vec_id
    """,
)
def ml04_density_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Density-based dedup (DBSCAN over blocked candidates): core /
    border / noise roles, density clusters, one survivor per cluster.

    The HDBSCAN-shaped gap between threshold dedup (ml03: any pair over
    θ merges) and clustering (ml01: every point gets a cluster):
    density dedup drops only the DENSE regions — templated boilerplate,
    scraped mirror farms — while passing sparse singletons through
    untouched. Roles follow DBSCAN: a vector is **core** when it has
    ≥ MIN_PTS neighbors at cos ≥ ε among its blocked candidates,
    **border** when it is not core but sees a core neighbor, **noise**
    otherwise. Clusters are connected components over core-core
    neighbor edges (the scale-safe large-star engine — O(log n) rounds);
    a border point attaches to the MINIMUM cluster label among its core
    neighbors (the deterministic stand-in for DBSCAN's
    first-visitor-wins, which is scan-order-dependent and therefore
    unreproducible). ``keep`` marks the survivors a curation pass
    retains: every noise point plus each cluster's min-vec_id canonical.

    Scale shape: identical to ml03 — multi-probe k-means blocking bounds
    candidates at Σ (probe-cell)², the salted self-join stripes each
    cell's pair grid, neighbor counting is one partial-agg shuffle, and
    components run on the (much smaller) core-core subgraph. The DuckDB
    oracle replays the same trajectory and blocking, so roles, cluster
    labels, and survivors are all differentially certified.

    Parity: beyond-reference (SURVEY §2.11 extension); the density
    analog of the reference's dedup surface, per the LLM-pipeline brief.
    """
    return dbscan_density_dedup(spark, sf_dir)


def dbscan_density_dedup(
    spark: SparkSession,
    sf_dir: str,
    k: int = K,
    cos_threshold: float = DBSCAN_COS,
    min_pts: int = DBSCAN_MIN_PTS,
    n_probes: int = N_PROBES,
) -> DataFrame:
    """Parameterized engine behind ml04 (same plan, tunable knobs).

    Same knob semantics as :func:`semantic_dedup_components`: production
    corpora raise ``cos_threshold`` out of the random-cosine tail and
    grow ``k`` with the corpus so cell width stays constant.
    """
    from .graph import components_large_small_star

    pin = generation("dbscan_density_dedup")
    # Score each candidate pair ONCE in canonical (a < b) orientation —
    # half the quadratic stage's cosine work — then symmetrize the
    # (filtered, much smaller) result: degree and border lookups need
    # per-point adjacency, not canonical pairs. Pinned: consumed by
    # nbrs (twice), core_edges, and the border branch — plus the
    # component fixpoint materializes core_edges EAGERLY at
    # construction, so without the persist the quadratic stage runs
    # once there and again per downstream branch. The probes side is
    # NOT pinned (measured, r10 — the ml03 lesson): it is consumed only
    # inside this one materialization.
    cpairs = pin(
        _near_pairs(
            kmeans_probes(spark, sf_dir, k=k, n_probes=n_probes),
            cos_threshold,
            ("vec_id", "nb"),
        )
    )
    nbrs = cpairs.union(
        cpairs.select(F.col("nb").alias("vec_id"), F.col("vec_id").alias("nb"))
    )
    # Pinned (r10): consumed FOUR times — core_edges joins it on both
    # endpoints (materialized eagerly by the component fixpoint), the
    # border branch anti-joins it, and corec derives from it in the
    # final lazy plan. Without the pin each consumer re-runs the
    # nbrs-groupBy shuffle over the cached pairs; with it the degree
    # aggregate runs once. Eager+lazy consumption is exactly the
    # profile the ml03 lesson says a pin pays for.
    core = pin(
        nbrs.groupBy("vec_id")
        .agg(F.count(F.lit(1)).alias("n_nb"))
        .filter(F.col("n_nb") >= min_pts)
        .select("vec_id")
    )
    core_edges = (
        cpairs
        .join(core, "vec_id")
        .join(core.withColumnRenamed("vec_id", "nb"), "nb")
        .select(F.col("vec_id").alias("doc_a"), F.col("nb").alias("doc_b"))
    )
    comp = components_large_small_star(core_edges)
    # Isolated cores (enough neighbors, none of them core) form their
    # own singleton cluster — hence the coalesce to self. Pinned: the
    # border branch and the final labeling both consume it, and its
    # subtree (core ⋈ comp over the cached pairs) would otherwise be
    # re-instantiated once per consumer.
    corec = pin(
        core.join(comp, core["vec_id"] == comp["doc_id"], "left")
        .select(
            core["vec_id"],
            F.coalesce(comp["component"], core["vec_id"]).alias("cluster"),
        )
    )
    # Pinned (r11): consumed by the final labeling AND by the eager
    # survivor-min broadcast build below — the eager+lazy profile the
    # ml03 lesson says a pin pays for. Tiny relation (border points).
    border = pin(
        nbrs.join(
            corec.select(
                F.col("vec_id").alias("nb"), F.col("cluster").alias("nb_cluster")
            ),
            "nb",
        )
        .join(core, "vec_id", "left_anti")
        .groupBy("vec_id")
        .agg(F.min("nb_cluster").alias("cluster"))
    )
    embeddings = spread_scan(load_table(spark, sf_dir, "embeddings"))
    allv = embeddings.select("vec_id")
    labeled = (
        allv.join(
            corec.select("vec_id", F.col("cluster").alias("core_cluster")),
            "vec_id",
            "left",
        )
        .join(
            border.select("vec_id", F.col("cluster").alias("border_cluster")),
            "vec_id",
            "left",
        )
        .select(
            "vec_id",
            F.when(F.col("core_cluster").isNotNull(), F.lit("core"))
            .when(F.col("border_cluster").isNotNull(), F.lit("border"))
            .otherwise(F.lit("noise"))
            .alias("role"),
            F.coalesce(
                "core_cluster", "border_cluster", F.lit(-1).cast("long")
            ).alias("cluster"),
        )
    )
    # Canonical survivor per cluster: per-cluster mins computed on the
    # CLUSTERED rows only, broadcast-joined back (r11). The r10 form —
    # MIN(vec_id) OVER (PARTITION BY cluster) over all of labeled — had
    # a scale hazard: every noise row (cluster = -1) hashes to ONE
    # window partition, and at 100 TB noise is typically the majority
    # of points, so that single partition becomes the stage (guide
    # §2.5 — a window cannot be skew-split by AQE). The min is never
    # used for noise rows (keep is unconditionally true there), so
    # filtering them out BEFORE the aggregate removes the hot key
    # outright; the surviving aggregate is cluster-cardinality and the
    # join back is an explicit broadcast — no shuffle of labeled at
    # all, strictly less data movement than the window form. Noise rows
    # take min_vec = NULL through the left join; `cluster = -1 OR ...`
    # short-circuits them to keep = true exactly as before.
    # The clustered rows of labeled are exactly corec ∪ border (core
    # and border vec_id sets are disjoint by the anti-join above), so
    # the mins build never has to touch the embeddings spine at all.
    cluster_mins = (
        corec.select("cluster", "vec_id")
        .unionByName(border.select("cluster", "vec_id"))
        .groupBy("cluster")
        .agg(F.min("vec_id").alias("min_vec"))
    )
    return (
        labeled.join(F.broadcast(cluster_mins), "cluster", "left")
        .select(
            "vec_id",
            "role",
            "cluster",
            (
                (F.col("cluster") == -1) | (F.col("vec_id") == F.col("min_vec"))
            ).alias("keep"),
        )
        .orderBy("vec_id")
    )


# --- ml05: fastText-shaped linear quality classifier -------------------------

from .shared_oracles import FT_BUCKETS, FT_KEEP_MICRO, ft_feature_ctes  # noqa: E402

# ml05's per-document score over ft_feature_ctes, which ml06 and ml08 evaluate.
_FT_SCORED_CTE = """scored AS (
        SELECT f.doc_id,
               CAST((1000000 * SUM(w.w)) // COUNT(*) AS BIGINT) AS score_micro
        FROM feat f JOIN wt w ON f.bucket = w.bucket
        GROUP BY f.doc_id
    )"""


@query(
    "ml05_fasttext_quality",
    oracle=f"""
    WITH {ft_feature_ctes("documents")}
    SELECT f.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST((1000000 * SUM(w.w)) // COUNT(*) AS BIGINT) AS score_micro,
           CASE WHEN (1000000 * SUM(w.w)) // COUNT(*) >= {FT_KEEP_MICRO}
                THEN 'keep' ELSE 'drop' END AS label
    FROM feat f JOIN wt w ON f.bucket = w.bucket
    GROUP BY f.doc_id
    ORDER BY f.doc_id
    """,
)
def ml05_fasttext_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-shaped quality-classifier INFERENCE over the corpus.

    The model-based quality gate every modern pretraining pipeline runs
    after the heuristic filters (tx01's Gopher-style rules): fastText's
    architecture is bag-of-hashed-tokens → fixed-size parameter table →
    averaged score → linear decision, and that is exactly this plan —
    explode tokens, hash into FT_BUCKETS parameter rows (the hashing
    trick), broadcast-join the parameter table, average per document,
    threshold. A production deployment swaps the derived weights for a
    learned table loaded from parquet; the plan is unchanged, which is
    the point — classifier inference at 100 TB is a broadcast join plus
    one doc-keyed aggregate, not a Python UDF per row.

    Determinism: weights are md5-derived integers in [0, 100] (replayed
    identically by the oracle), the per-doc average is carried in
    micro-units with ``div`` — everything nonnegative, so Spark's
    truncating ``div`` and DuckDB's flooring ``//`` agree — and the sum
    is an integer sum (fold-order-free).

    Scale shape: explode is map-side; the parameter table is
    FT_BUCKETS rows (broadcast, never shuffled — real fastText uses
    2M buckets × 256 dims ≈ 2 GB, still broadcastable); the only
    exchange is the doc-keyed partial-aggregated count/sum. At 100 TB
    the pre-aggregation ``groupBy(doc_id, bucket).count()`` variant cuts
    the join input by the token/bucket ratio if the bucket table ever
    outgrows broadcast range.

    Parity: beyond-reference (§2.11 mandate — model-based curation);
    quality-signal seed cbddl/src/data_ingestion/ingestion_pipeline.py:54-74.
    """
    documents = load_table(spark, sf_dir, "documents")
    score = F.col("score_micro")
    return (
        fasttext_scores(documents)
        .select(
            "doc_id",
            "n_tokens",
            "score_micro",
            F.when(score >= FT_KEEP_MICRO, F.lit("keep"))
            .otherwise(F.lit("drop"))
            .alias("label"),
        )
        .orderBy("doc_id")
    )


def fasttext_scores(documents: DataFrame) -> DataFrame:
    """The scoring core behind ml05: (doc_id, n_tokens, score_micro).

    Takes any (doc_id, text) relation so pipeline stages can score
    intermediate survivor sets, not just the raw table; see ml05's
    docstring for the architecture and determinism notes."""
    spark = documents.sparkSession
    weights = spark.range(FT_BUCKETS).select(
        F.col("id").alias("bucket"), md5_bucket(F.col("id"), 101).alias("w")
    )
    return (
        hashed_tokens(documents, FT_BUCKETS).join(F.broadcast(weights), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("w").alias("sum_w"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.expr("(1000000 * sum_w) div n_tokens").alias("score_micro"),
        )
    )


# --- ml06: classifier operating-point sweep ---------------------------------

# Candidate decision thresholds (micro-units) around the score median.
ML06_THRESHOLDS = (40_000_000, 45_000_000, 50_000_000, 55_000_000, 60_000_000)
# Weak reference label: substantial documents (chars) — the cheap
# heuristic the classifier is being calibrated against.
ML06_LABEL_MIN_CHARS = 200


@query(
    "ml06_threshold_sweep",
    oracle=f"""
    WITH {ft_feature_ctes("documents")}, {_FT_SCORED_CTE}, labeled AS (
        SELECT s.score_micro, d.n_chars >= {ML06_LABEL_MIN_CHARS} AS pos
        FROM scored s JOIN documents d USING (doc_id)
    ), sweep AS (
        SELECT UNNEST({list(ML06_THRESHOLDS)}) AS threshold
    ), conf AS (
        SELECT t.threshold,
               CAST(COUNT(*) FILTER (l.score_micro >= t.threshold AND l.pos)
                    AS BIGINT) AS tp,
               CAST(COUNT(*) FILTER (l.score_micro >= t.threshold AND NOT l.pos)
                    AS BIGINT) AS fp,
               CAST(COUNT(*) FILTER (l.score_micro < t.threshold AND l.pos)
                    AS BIGINT) AS fn,
               CAST(COUNT(*) FILTER (l.score_micro < t.threshold AND NOT l.pos)
                    AS BIGINT) AS tn
        FROM sweep t CROSS JOIN labeled l
        GROUP BY t.threshold
    )
    SELECT threshold, tp, fp, fn, tn,
           ROUND(CAST(tp AS DOUBLE) / NULLIF(tp + fp, 0), 6) AS precision,
           ROUND(CAST(tp AS DOUBLE) / NULLIF(tp + fn, 0), 6) AS recall
    FROM conf
    ORDER BY threshold
    """,
)
def ml06_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier operating-point sweep: confusion counts + precision /
    recall for ml05's scorer at five decision thresholds.

    The evaluation stage between training a quality model and gating a
    corpus with it (the pipeline's stage-1b floor was chosen from
    exactly this curve): scores join a cheap reference label, and ONE
    pass over the scored relation produces every operating point — the
    threshold spine is a broadcast of five rows, each (doc, threshold)
    pair contributes to exactly one confusion cell via integer
    comparisons, and the per-threshold rollup moves 5×4 counters. No
    per-threshold rescans, no driver loop: the sweep is a crossJoin
    against a literal spine, which is how a 100 TB eval run should
    shape it (the scored relation is read once however many operating
    points are swept).

    Determinism: scores are ml05's exact integers, the label is an
    integer comparison, the confusion cells are integer counts;
    precision/recall divide once per output row.

    Parity: beyond-reference (§2.11 model-based-curation extension —
    the eval half of ml05).
    """
    documents = load_table(spark, sf_dir, "documents")
    labeled = fasttext_scores(documents).join(
        documents.select(
            "doc_id",
            (F.col("n_chars") >= ML06_LABEL_MIN_CHARS).alias("pos"),
        ),
        "doc_id",
    )
    sweep = spark.createDataFrame(
        [(t,) for t in ML06_THRESHOLDS], "threshold long"
    )
    hit = F.col("score_micro") >= F.col("threshold")
    conf = (
        labeled.crossJoin(F.broadcast(sweep))
        .groupBy("threshold")
        .agg(
            F.count(F.when(hit & F.col("pos"), 1)).alias("tp"),
            F.count(F.when(hit & ~F.col("pos"), 1)).alias("fp"),
            F.count(F.when(~hit & F.col("pos"), 1)).alias("fn"),
            F.count(F.when(~hit & ~F.col("pos"), 1)).alias("tn"),
        )
    )
    return conf.select(
        "threshold",
        "tp",
        "fp",
        "fn",
        "tn",
        # NULLIF: an empty operating point (nothing above threshold, or
        # no positives) reports NULL, matching the oracle — ANSI Spark
        # raises DIVIDE_BY_ZERO on the bare division.
        F.expr("round(cast(tp as double) / nullif(tp + fp, 0), 6)").alias("precision"),
        F.expr("round(cast(tp as double) / nullif(tp + fn, 0), 6)").alias("recall"),
    ).orderBy("threshold")


# --- ml08: score calibration (reliability) bins --------------------------------

ML08_BIN_MICRO = 10_000_000  # decile width on the micro-unit score axis


@query(
    "ml08_reliability_bins",
    oracle=f"""
    WITH {ft_feature_ctes("documents")}, {_FT_SCORED_CTE}
    SELECT s.score_micro // {ML08_BIN_MICRO} AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN d.n_chars >= {ML06_LABEL_MIN_CHARS}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
           ROUND(CAST(SUM(CASE WHEN d.n_chars >= {ML06_LABEL_MIN_CHARS}
                               THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6)
               AS observed_rate
    FROM scored s JOIN documents d USING (doc_id)
    GROUP BY 1
    ORDER BY bin
    """,
)
def ml08_reliability_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram for ml05's quality scorer: documents bucketed
    by score decile, each bin reporting its observed positive rate
    against the same weak label ml06 sweeps.

    The third leg of the classifier-eval triad — ml05 infers, ml06
    picks the operating point, this checks CALIBRATION: does a higher
    score bin actually contain a higher fraction of positives? (A
    monotone reliability curve is what makes a threshold sweep
    meaningful at all.) Bins are integer floor-divisions of the exact
    micro-unit score, counts are exact integers, and the one float
    (observed rate) is produced by the identical ROUND/CAST expression
    on both engines.

    Scale shape: ml05's scoring plan (explode → broadcast parameter
    table → doc-keyed aggregate) plus one doc-keyed label join and a
    ≤ ~10-row bin rollup. Nothing new moves at 100 TB.

    Parity: beyond-reference (§2.11 model-eval extension; quality seed
    cbddl/src/data_ingestion/ingestion_pipeline.py:54-74).
    """
    documents = load_table(spark, sf_dir, "documents")
    scored = fasttext_scores(documents).select("doc_id", "score_micro")
    labeled = scored.join(documents.select("doc_id", "n_chars"), "doc_id")
    pos = F.when(F.col("n_chars") >= ML06_LABEL_MIN_CHARS, 1).otherwise(0)
    return (
        labeled.groupBy(
            F.expr(f"score_micro div {ML08_BIN_MICRO}").alias("bin")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(pos).alias("n_pos"),
        )
        .select(
            "bin",
            "n_docs",
            "n_pos",
            F.expr(
                "round(cast(n_pos as double) / n_docs, 6)"
            ).alias("observed_rate"),
        )
        .orderBy("bin")
    )


# --- ml09: kNN classifier eval (label prediction by neighbor vote) ------------

KNN_EVAL_K = 3


@query(
    "ml09_knn_classifier_eval",
    oracle=KMEANS_TRAJECTORY_CTE
    + KMEANS_PROBES_CTE
    + f"""
    , cpairs AS (
        SELECT DISTINCT a.vec_id AS qid, b.vec_id AS nid
        FROM probes a JOIN probes b
          ON a.probe = b.probe AND a.vec_id <> b.vec_id
    ), nbr AS (
        SELECT c.qid, c.nid, {cos_sql("ea.v", "eb.v")} AS cs
        FROM cpairs c
        JOIN emb ea ON ea.vec_id = c.qid
        JOIN emb eb ON eb.vec_id = c.nid
    ), topk AS (
        SELECT qid, nid FROM (
            SELECT qid, nid,
                   ROW_NUMBER() OVER (PARTITION BY qid
                                      ORDER BY cs DESC, nid ASC) AS rn
            FROM nbr)
        WHERE rn <= {KNN_EVAL_K}
    ), votes AS (
        SELECT t.qid, e.label AS pred_label, COUNT(*) AS c
        FROM topk t JOIN embeddings e ON e.vec_id = t.nid
        GROUP BY 1, 2
    ), pred AS (
        SELECT qid, pred_label FROM (
            SELECT qid, pred_label,
                   ROW_NUMBER() OVER (PARTITION BY qid
                                      ORDER BY c DESC, pred_label ASC) AS rn
            FROM votes)
        WHERE rn = 1
    )
    SELECT e.label AS true_label, p.pred_label,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM pred p JOIN embeddings e ON e.vec_id = p.qid
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def ml09_knn_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN-classifier confusion matrix: predict each vector's label by
    majority vote of its {KNN_EVAL_K} nearest blocked neighbors, tallied
    against the true label — the "are these embeddings any good"
    readout (Cover & Hart's 1-NN risk bound generalizes: if kNN can't
    recover the labels, neither will a probe head). Completes the
    embedding-eval triad: sim15 measures index RECALL, er05 blocking
    quality, this measures label SEPARABILITY.

    Neighbor generation is sim13's machinery verbatim (multi-probe
    k-means blocking, salted in-cell join, fold-order cosine); the
    vote and the confusion rollup add two bounded aggregates
    (|labels|² output). Ties at the k-th rank break by (cs, nid) and
    vote ties by smaller label — both engines replay the exact same
    rules, so the matrix is hash-exact, not approximately equal.
    Leave-one-out semantics come free: candidates are scored once in
    canonical (a.vec_id < b.vec_id) orientation and symmetrized after
    the dedup, so self-pairs never exist and the vote never sees its
    own label. Vectors with no blocked candidate (isolated cells) are
    excluded from the matrix on both engines.

    This registry form pins k=K for oracle comparability; the ml03/
    sim13 scale rule applies unchanged — production corpora call
    :func:`knn_classifier_eval` with k ∝ corpus size so cell width
    (and the in-cell quadratic) stays constant.
    """
    return knn_classifier_eval(spark, sf_dir)


def knn_classifier_eval(
    spark: SparkSession,
    sf_dir: str,
    k: int = K,
    n_probes: int = N_PROBES,
    eval_k: int = KNN_EVAL_K,
) -> DataFrame:
    """Parameterized engine behind ml09 (same plan, tunable blocking).

    ``k`` is THE scale knob (candidate pairs per cell ≈ (n/k)², hold
    cell width constant by growing k with the corpus); ``eval_k`` is
    the vote width.
    """
    from pyspark.sql import Window

    cand = _knn_candidates(spark, sf_dir, k, n_probes)
    wk = Window.partitionBy("qid").orderBy(F.desc("cs"), F.asc("nid"))
    topk = (
        cand.withColumn("rn", F.row_number().over(wk))
        .filter(F.col("rn") <= eval_k)
        .select("qid", "nid")
    )
    labels = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    votes = (
        topk.join(
            labels.select(
                F.col("vec_id").alias("nid"), F.col("label").alias("pred_label")
            ),
            "nid",
        )
        .groupBy("qid", "pred_label")
        .agg(F.count("*").alias("c"))
    )
    wv = Window.partitionBy("qid").orderBy(F.desc("c"), F.asc("pred_label"))
    pred = (
        votes.withColumn("rn", F.row_number().over(wv))
        .filter(F.col("rn") == 1)
        .select("qid", "pred_label")
    )
    return (
        pred.join(
            labels.select(
                F.col("vec_id").alias("qid"), F.col("label").alias("true_label")
            ),
            "qid",
        )
        .groupBy("true_label", "pred_label")
        .agg(F.count("*").alias("n"))
        .orderBy("true_label", "pred_label")
    )
