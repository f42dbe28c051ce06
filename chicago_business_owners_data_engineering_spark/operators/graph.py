"""Connected components in O(log n) rounds: large-star / small-star.

``dedup.components_propagation`` is min-label propagation — one shuffle
per round, rounds = graph DIAMETER. Near-dup clusters are shallow (3-4
rounds), but entity graphs, citation graphs, and link graphs carry long
chains: a diameter-D path costs D full-relation shuffles, and D can be
thousands. The alternating algorithm (Kiveris, Lattanzi, Mirrokni,
Rastogi, Vassilvitskii — "Connected Components in MapReduce and
Beyond", SoCC 2014) converges in O(log n) rounds REGARDLESS of
diameter, by rewiring the graph toward each component's minimum node
every round:

- **large-star(u)**: connect every neighbor LARGER than ``u`` to the
  minimum of ``Γ(u) ∪ {u}``;
- **small-star(u)**: connect every smaller-or-equal neighbor (and
  ``u`` itself) to that minimum.

Both steps preserve connectivity exactly (each replaced edge is
spanned by two new ones through the minimum) and monotonically shrink
the potential Σ edge-heights, so the fixpoint — every component a star
rooted at its minimum node id — is reached without ever materializing
neighborhoods as in-memory lists. Each half-step is one groupBy + one
join keyed on node id: ~4 bounded shuffles per round, O(log n) rounds,
which is the web-scale trade against propagation's diameter-bound
round count.

Reference seed: same near-dup component semantics as dd06
(cbddl/src/etl/pipeline.py:296,329-344 motivates the dedup decision);
the algorithm choice is the beyond-reference scale path.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.text import words
from ..registry import query

# The shared component oracle lives in the registry-free shared_oracles
# module precisely so it can be imported here at decoration time; a
# peer import from dedup would re-enter dedup half-initialized when
# graph is imported first (the registry imports all operator modules).
from .shared_oracles import DD06_REPORT_SQL as _DD06_REPORT_SQL, words_sql


def _canonical(pairs: DataFrame) -> DataFrame:
    """Undirected pair relation → distinct (big, small) canonical edges."""
    a, b = F.col("doc_a"), F.col("doc_b")
    return (
        pairs.select(
            F.greatest(a, b).alias("big"), F.least(a, b).alias("small")
        )
        .filter(F.col("big") != F.col("small"))
        .distinct()
    )


def _large_star(canon: DataFrame) -> DataFrame:
    """One large-star step over canonical (big, small) edges.

    Works on the bidirectional view: for each node ``src`` the group
    minimum is ``m = min(Γ(src) ∪ {src})``; every LARGER neighbor
    ``dst > src`` is re-attached to ``m``. Emitted edges are already
    canonical — ``m ≤ src < dst`` — so no re-canonicalization shuffle
    is needed. One partial-agg groupBy + one join, both keyed on the
    node id.
    """
    edges = canon.select(
        F.col("big").alias("src"), F.col("small").alias("dst")
    ).unionByName(canon.select(F.col("small").alias("src"), F.col("big").alias("dst")))
    mins = edges.groupBy("src").agg(F.min("dst").alias("mn"))
    mins = mins.select("src", F.least("mn", "src").alias("m"))
    return (
        edges.join(mins, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("big"), F.col("m").alias("small"))
        .filter(F.col("big") != F.col("small"))
        .distinct()
    )


def _small_star(canon: DataFrame) -> DataFrame:
    """One small-star step: each node links its ≤-neighbors to the min.

    Canonical edges already point big → small, so grouping by ``big``
    sees exactly the smaller neighborhood; ``m = min(smalls)`` and both
    ``big`` and every other small neighbor re-attach to ``m``. Output
    stays canonical (every emitted edge has left endpoint > m).
    """
    mins = canon.groupBy("big").agg(F.min("small").alias("m"))
    relinked = (
        canon.join(mins, "big")
        .select(F.col("small").alias("big"), F.col("m").alias("small"))
        .unionByName(mins.select(F.col("big"), F.col("m").alias("small")))
        .filter(F.col("big") != F.col("small"))
        .distinct()
    )
    return relinked


def components_large_small_star(
    pairs: DataFrame, stats: dict | None = None, max_rounds: int = 64
) -> DataFrame:
    """(doc_id, component) via the alternating algorithm.

    Same contract as ``dedup.components_propagation`` — component = min
    doc_id reachable, only nodes with ≥1 edge appear — but O(log n)
    rounds instead of O(diameter). Convergence is detected by testing
    the round's output for the star-forest shape directly (every
    ``big`` occurs exactly once AND no ``big`` is also a ``small`` —
    one node-keyed aggregate per round); the first star-shaped output
    IS the unique fixpoint, and a graph that never star-converges
    raises at ``max_rounds``. ``localCheckpoint`` truncates lineage
    each round, the same driver-coordination pattern as the
    propagation variant.

    ``stats['rounds']`` (when a dict is passed) records the number of
    full large+small rounds — the pytest asserts the logarithmic bound
    on a long chain where propagation would need diameter rounds.
    """
    # Lazy checkpoints, materialized BY the convergence probe that
    # follows: an eager localCheckpoint runs one job to materialize and
    # the probe a second over the checkpointed partitions; letting the
    # probe trigger the checkpoint fuses both into ONE job per round
    # (r10 — halves the driver-coordinated jobs of every fixpoint
    # consumer: dd06/dd07/dd08/er02/er03/ml03/ml04/inc02/tp23).
    # Lineage still truncates at the checkpoint exactly as before.
    #
    # Convergence = "the round's output IS a star forest", detected
    # directly (r10): every big occurs exactly once AND no node is
    # both a big and a small — one node-keyed aggregate per round.
    # This replaces the former count + set-equality test, which could
    # only see the fixpoint one round LATE (it had to compute round
    # R+1 and find it equal to round R), i.e. it spent one full extra
    # large+small round (4+ edge-relation shuffles) plus a final
    # exceptAll job per consumer. Exactness is self-contained, no
    # convergence literature needed: edges are always canonical
    # (small < big, distinct), so the invariant means the relation is
    # a function big → small whose image is disjoint from its domain
    # — a star forest {(member, root)} — and one more large+small
    # round maps a star forest to itself term-for-term (large_star:
    # every member group emits nothing new, every root group re-emits
    # (member, root); small_star: every member group re-links {root}
    # to itself and re-emits (member, root)). The first star-shaped
    # output is therefore THE fixpoint, and it is exactly the shape
    # the extraction below already requires. A graph that never
    # star-converges now raises at max_rounds instead of silently
    # extracting from a non-star fixpoint — strictly safer.
    canon = _canonical(pairs).localCheckpoint(eager=False)
    rounds = 0
    while rounds < max_rounds:
        nxt = _small_star(_large_star(canon)).localCheckpoint(eager=False)
        rounds += 1
        viol = (
            nxt.select(F.col("big").alias("node"), F.lit(1).alias("b"), F.lit(0).alias("s"))
            .unionAll(
                nxt.select(
                    F.col("small").alias("node"), F.lit(0).alias("b"), F.lit(1).alias("s")
                )
            )
            .groupBy("node")
            .agg(F.sum("b").alias("nb"), F.max("s").alias("ns"))
            .select(
                F.count(
                    F.when((F.col("nb") > 1) | ((F.col("nb") > 0) & (F.col("ns") > 0)), 1)
                ).alias("viol")
            )
            .collect()[0]["viol"]
        )
        canon = nxt
        if viol == 0:
            break
    else:
        raise RuntimeError(f"no star-forest fixpoint after {max_rounds} rounds")
    if stats is not None:
        stats["rounds"] = rounds
    # Star fixpoint: every edge is (member, root); roots label themselves.
    # The member side needs NO dedup — the star test just certified that
    # every big occurs exactly once — and member doc_ids (bigs) are
    # disjoint from root doc_ids (smalls), also certified. Only the root
    # self-labels repeat (once per member), so distinct runs on the
    # |E|-row single-column small side instead of the full 2|E|-row
    # union (r11: one O(E) exchange replaced by an O(E) half-width one,
    # and the member rows never enter any exchange at all).
    roots = canon.select(F.col("small").alias("doc_id")).distinct()
    return canon.select(
        F.col("big").alias("doc_id"), F.col("small").alias("component")
    ).unionByName(roots.select("doc_id", F.col("doc_id").alias("component")))


# ---------------------------------------------------------------------------
# Graph analytics over the co-purchase graph (gr01/gr02)
# ---------------------------------------------------------------------------
#
# Node = part, edge = "appeared in the same order during 1995". The edge
# relation is built by a self-join BLOCKED on the order key (orders hold
# ~4 distinct parts, so the per-order quadratic is bounded — same
# Σ block² argument as er01), with the date predicate pushed into the
# lineitem scan. Reference seed: the reference ranks/links businesses by
# shared attributes (cbddl/src/etl/pipeline.py:296 dedup keys,
# readme.md:70-83 cross-dataset linkage); centrality and cohesion over
# the derived relationship graph are the beyond-reference analytics.

PR_SCALE = 1_000_000_000_000  # integer PageRank unit: 1.0 == 10^12
PR_TELEPORT_PCT = 15  # damping d = 0.85 expressed as integer percents
PR_ITERATIONS = 3


def _e0_cte(weighted: bool = False) -> str:
    """``e0(src, dst[, w])``: both orientations of ``copairs(part_a,
    part_b[, w])`` — the oracle twin of :func:`_bidir`. MATERIALIZED
    because the chains and joins that read it reference it repeatedly."""
    w = ", w" if weighted else ""
    return f"""
    , e0 AS MATERIALIZED (
        SELECT part_a AS src, part_b AS dst{w} FROM copairs
        UNION ALL SELECT part_b, part_a{w} FROM copairs
    )"""


def _copurchase_cte(weighted: bool = False) -> str:
    """Oracle prefix: 1995 co-purchase ``copairs`` (with the shared-order
    count ``w`` when ``weighted``) followed by its ``e0`` edge CTE."""
    w = ",\n               CAST(COUNT(*) AS BIGINT) AS w" if weighted else ""
    return (
        f"""
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1995-01-01'
          AND l_shipdate <  TIMESTAMP '1996-01-01'
    ), copairs AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b{w}
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
    )"""
        + _e0_cte(weighted)
    )


def _copurchase_join(lineitem: DataFrame) -> tuple[DataFrame, tuple]:
    """1995 (order, part) rows self-joined on the order key with
    ``a.l_partkey < b.l_partkey`` (one row per order a part pair
    shares), plus the (part_a, part_b) key columns of that join.

    One shuffle on the order key (the block key); the quadratic compare
    runs inside ~4-row order groups.
    """
    items = (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
        )
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, b = items.alias("a"), items.alias("b")
    joined = a.join(
        b,
        on=[
            F.col("a.l_orderkey") == F.col("b.l_orderkey"),
            F.col("a.l_partkey") < F.col("b.l_partkey"),
        ],
    )
    pair = (F.col("a.l_partkey").alias("part_a"), F.col("b.l_partkey").alias("part_b"))
    return joined, pair


def copurchase_edges(lineitem: DataFrame) -> DataFrame:
    """Distinct canonical (part_a < part_b) co-purchase edges, 1995.

    ``distinct`` collapses repeat co-purchases — the downstream graph
    ops are unweighted.
    """
    joined, pair = _copurchase_join(lineitem)
    return joined.select(*pair).distinct()


def copurchase_edges_weighted(lineitem: DataFrame) -> DataFrame:
    """(part_a < part_b, w) co-purchase edges, w = the number of
    distinct 1995 orders the pair shared — the natural edge weight for
    the ranking variants."""
    joined, pair = _copurchase_join(lineitem)
    return joined.groupBy(*pair).agg(F.count("*").alias("w"))


def _bidir(edges: DataFrame, *cols) -> DataFrame:
    """(src, dst, *cols): both orientations of canonical (part_a, part_b)
    edges. Callers checkpoint the result where they need to."""
    return edges.select(
        F.col("part_a").alias("src"), F.col("part_b").alias("dst"), *cols
    ).unionByName(
        edges.select(F.col("part_b").alias("src"), F.col("part_a").alias("dst"), *cols)
    )


def _degree(bidir: DataFrame, name: str = "deg", mass=None) -> DataFrame:
    """(node, name): per-source edge count (or ``mass``) of a (src, dst)
    relation."""
    mass = F.count("*") if mass is None else mass
    return bidir.groupBy("src").agg(mass.alias(name)).withColumnRenamed("src", "node")


def pagerank_integer(
    edges_canon: DataFrame,
    iterations: int = PR_ITERATIONS,
    scale: int = PR_SCALE,
    teleport_pct: int = PR_TELEPORT_PCT,
    weight_col: str | None = None,
    personalized: bool = False,
) -> DataFrame:
    """Fixed-iteration PageRank in pure int64 arithmetic → (node, rank).

    Why integers: float PageRank sums neighbor contributions in
    partition order, and IEEE addition is not associative — two engines
    (or two runs) can disagree in the last bits, which poisons any
    exact differential check. Defining the recurrence over int64
    "micro-rank" units makes every step order-independent and
    bit-identical on any engine:

        base        = scale div N
        contrib(u)  = rank(u) div deg(u)            (unweighted)
                    = (rank(u)·w_uv) div strength(u) (weighted)
        rank'(v)    = (teleport_pct·base) div 100
                    + ((100−teleport_pct)·Σ contrib) div 100

    where deg/strength is the (weighted) degree of ``u``. With
    ``weight_col`` set, each edge carries an int64 weight and mass
    splits proportionally (rank ≤ scale and weights are edge counts, so
    the rank·w product stays far from int64 overflow). With
    ``personalized`` set, ALL rank mass INITIALIZES at the seed (the
    minimum node id) and every teleport restarts there — the standard
    PPR formulation: with uniform init, a short fixed iteration count
    would leave every node holding residual uniform mass unrelated to
    seed proximity, diluting the "rank measures proximity to the seed"
    semantics (related-items; gr04). The output carries a ``seed``
    column. The
    div-truncation loses < 1 micro-unit per op — irrelevant for
    ranking, decisive for reproducibility (same reasoning as er03's
    integer money math). The graph is undirected/bidirectional, so
    every node has deg ≥ 1 and in-edges — no dangling-mass term.

    Per iteration: one join keyed on the node id + one map-side-combined
    groupBy + one node-keyed update join — all shuffles on the same key,
    so AQE/co-partitioning reuses the exchange layout. The edge relation
    is ``localCheckpoint``-ed once; with a fixed small iteration count
    the unrolled plan stays shallow (no per-round checkpoint needed).
    """
    wcols = [F.col(weight_col).alias("w")] if weight_col else []
    bidir = _bidir(edges_canon, *wcols).localCheckpoint(eager=True)
    deg = _degree(bidir, mass=F.sum("w") if weight_col else None)
    scols = [F.min("node").alias("seed")] if personalized else []
    stats = deg.agg(F.count("*").alias("n_nodes"), *scols)
    keep = ["node", "deg"] + (["seed"] if personalized else [])
    base = deg.crossJoin(F.broadcast(stats)).select(
        *keep, F.expr(f"{scale} div n_nodes").alias("base")
    )
    if personalized:
        at_seed = F.col("node") == F.col("seed")
        state = base.withColumn("rank", F.when(at_seed, F.lit(scale)).otherwise(F.lit(0)))
        teleport = F.when(at_seed, F.lit((teleport_pct * scale) // 100)).otherwise(F.lit(0))
    else:
        state = base.withColumn("rank", F.col("base"))
        teleport = F.expr(f"({teleport_pct} * base) div 100")
    keep_pct = 100 - teleport_pct
    contrib_expr = "(rank * w) div deg" if weight_col else "rank div deg"
    for _ in range(iterations):
        contrib = state.join(bidir, state["node"] == bidir["src"]).select(
            F.col("dst").alias("node"), F.expr(contrib_expr).alias("c")
        )
        sums = contrib.groupBy("node").agg(F.sum("c").alias("s"))
        state = base.join(sums, "node").select(
            *keep,
            "base",
            (teleport + F.expr(f"({keep_pct} * s) div 100")).alias("rank"),
        )
    return state.select("node", "rank", *(["seed"] if personalized else []))


def triangle_counts(edges_canon: DataFrame) -> DataFrame:
    """Per-node triangle participation via degree-ordered orientation.

    The classic MapReduce triangle algorithm (Suri & Vassilvitskii,
    WWW'11): orient every edge from the lower-(degree, id) endpoint to
    the higher, making the graph a DAG where each triangle has exactly
    one node with out-degree 2 — so wedges (u→v, u→w) joined against
    the oriented edge v→w enumerate each triangle once. Orienting by
    DEGREE (not id) is the scale move: a hub of degree d contributes
    O(d²) wedges under id-orientation but only wedges toward
    higher-degree nodes under degree-orientation, bounding total wedge
    count at O(E^1.5) — the difference between hours and minutes on a
    skewed 100 TB graph. The triangle SET is orientation-invariant,
    which is what lets the DuckDB oracle use the simple id-ordered
    3-way self-join and still compare exactly.
    """
    deg = _degree(_bidir(edges_canon))
    # Attach both endpoint degrees, then orient low-(deg,id) → high.
    with_deg = (
        edges_canon.join(
            deg.select(F.col("node").alias("part_a"), F.col("deg").alias("deg_a")),
            "part_a",
        ).join(
            deg.select(F.col("node").alias("part_b"), F.col("deg").alias("deg_b")),
            "part_b",
        )
    )
    a_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("part_a") < F.col("part_b"))
    )
    oriented = with_deg.select(
        F.when(a_first, F.col("part_a")).otherwise(F.col("part_b")).alias("src"),
        F.when(a_first, F.col("part_b")).otherwise(F.col("part_a")).alias("dst"),
        F.when(a_first, F.col("deg_b")).otherwise(F.col("deg_a")).alias("dst_deg"),
    ).localCheckpoint(eager=True)
    e1, e2 = oriented.alias("e1"), oriented.alias("e2")
    # Wedges at the out-degree-2 apex: order the two legs by the SAME
    # (deg, id) rank used for orientation so each unordered pair of
    # out-neighbors appears once, and the closing edge — if it exists —
    # is guaranteed to be oriented v→w.
    wedges = e1.join(
        e2,
        on=[
            F.col("e1.src") == F.col("e2.src"),
            (F.col("e1.dst_deg") < F.col("e2.dst_deg"))
            | (
                (F.col("e1.dst_deg") == F.col("e2.dst_deg"))
                & (F.col("e1.dst") < F.col("e2.dst"))
            ),
        ],
    ).select(
        F.col("e1.src").alias("u"),
        F.col("e1.dst").alias("v"),
        F.col("e2.dst").alias("w"),
    )
    closing = oriented.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    tri = wedges.join(closing, ["v", "w"])
    member = (
        tri.select(F.col("u").alias("node"))
        .unionByName(tri.select(F.col("v").alias("node")))
        .unionByName(tri.select(F.col("w").alias("node")))
    )
    return member.groupBy("node").agg(F.count("*").alias("n_tri"))


def _pagerank_oracle_chain(
    node_type: str = "BIGINT", weighted: bool = False, personalized: bool = False
) -> str:
    """The 3-iteration integer-PageRank CTE chain, appended after an
    ``e0(src, dst)`` CTE (bidirectional; with a ``w`` column when
    ``weighted``). Shared by gr01 (part nodes), gr03 (weighted), gr04
    (personalized — teleport conditionally at the min-id seed) and tx12
    (word nodes) so every oracle replays the IDENTICAL recurrence;
    ``node_type`` only documents the key type, the SQL is
    type-agnostic."""
    contrib = "(r.rank * e.w) // r.deg" if weighted else "r.rank // r.deg"
    mass = "SUM(w)" if weighted else "COUNT(*)"
    seed_sel = ", MIN(node) AS seed" if personalized else ""
    seed_col = ", seed" if personalized else ""
    bseed = ", b.seed" if personalized else ""
    if personalized:
        teleport = (
            f"CASE WHEN b.node = b.seed THEN "
            f"{(PR_TELEPORT_PCT * PR_SCALE) // 100} ELSE 0 END"
        )
        # Standard PPR: all rank mass starts at the seed, so short
        # fixed-iteration ranks are proximity-dominated (mirrors
        # pagerank_integer's personalized init).
        r0_rank = f"CASE WHEN node = seed THEN {PR_SCALE} ELSE 0 END"
    else:
        teleport = f"({PR_TELEPORT_PCT} * b.base) // 100"
        r0_rank = "base"
    it = "".join(
        f"""
    , s{i} AS (
        SELECT e.dst AS node, CAST(SUM({contrib}) AS BIGINT) AS s
        FROM r{i - 1} r JOIN e0 e ON r.node = e.src GROUP BY 1
    ), r{i} AS (
        SELECT b.node, b.deg{bseed}, b.base,
               {teleport}
               + ({100 - PR_TELEPORT_PCT} * s.s) // 100 AS rank
        FROM base b JOIN s{i} s ON b.node = s.node
    )"""
        for i in range(1, PR_ITERATIONS + 1)
    )
    return (
        f"""
    , deg AS (
        SELECT src AS node, CAST({mass} AS BIGINT) AS deg
        FROM e0 GROUP BY 1
    ), n AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes{seed_sel} FROM deg
    ), base AS (
        SELECT node, deg{seed_col}, {PR_SCALE} // n_nodes AS base FROM deg, n
    ), r0 AS (
        SELECT node, deg{seed_col}, base, {r0_rank} AS rank FROM base
    )"""
        + it
    )


@query(
    "gr01_pagerank",
    oracle=_copurchase_cte()
    + _pagerank_oracle_chain()
    + f"""
    SELECT node AS part, rank AS pr_micro
    FROM r{PR_ITERATIONS} ORDER BY pr_micro DESC, part LIMIT 20
    """,
)
def gr01_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 co-purchase PageRank (3 iterations, integer arithmetic).

    "Which parts sit at the center of the co-purchase network" — the
    cross-sell ranking a raw popularity count gets wrong (a part bought
    often but always alone ranks below one that bridges many baskets).
    See :func:`pagerank_integer` for why the recurrence runs in int64
    micro-units and how the per-iteration shuffles are keyed.
    """
    edges = copurchase_edges(load_table(spark, sf_dir, "lineitem"))
    pr = pagerank_integer(edges)
    return (
        pr.select(F.col("node").alias("part"), F.col("rank").alias("pr_micro"))
        .orderBy(F.desc("pr_micro"), F.asc("part"))
        .limit(20)
    )


# The oracle twin of triangle_counts (gr02, gr11): every triangle once
# from the naive id-ordered 3-way self-join, one member row per corner.
_TRIANGLE_MEMBER_CTE = """
    , tri AS (
        SELECT p1.part_a AS a, p1.part_b AS b, p2.part_b AS c
        FROM copairs p1
        JOIN copairs p2 ON p1.part_b = p2.part_a
        JOIN copairs p3 ON p3.part_a = p1.part_a AND p3.part_b = p2.part_b
    ), member AS (
        SELECT a AS node FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
    )"""


@query(
    "gr02_triangle_counts",
    oracle=_copurchase_cte()
    + _TRIANGLE_MEMBER_CTE
    + """
    SELECT node AS part, CAST(COUNT(*) AS BIGINT) AS n_tri
    FROM member GROUP BY node
    ORDER BY n_tri DESC, part LIMIT 20
    """,
)
def gr02_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 parts by co-purchase triangle participation.

    Triangles measure cohesion: a part in many triangles belongs to a
    stable product clique (bundle), not just a popular pairing. Runs
    the degree-ordered orientation algorithm (see
    :func:`triangle_counts` for the O(E^1.5) wedge bound); the oracle
    proves orientation-invariance by re-deriving the same triangle set
    from the naive id-ordered 3-way self-join.
    """
    edges = copurchase_edges(load_table(spark, sf_dir, "lineitem"))
    return (
        triangle_counts(edges)
        .select(F.col("node").alias("part"), "n_tri")
        .orderBy(F.desc("n_tri"), F.asc("part"))
        .limit(20)
    )


@query(
    "dd08_components_largestar",
    oracle=_DD06_REPORT_SQL,
)
def dd08_components_largestar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dd06's near-dup component report under its large-star name.

    Large-star/small-star is the component engine of every consumer
    (see :func:`components_large_small_star`), so this is dd06's plan
    and oracle; the pytest demonstrates the algorithm's O(log n) round
    bound on a 96-node chain, where min-label propagation would need
    diameter-many rounds.
    """
    from .dedup import dd06_neardup_components

    return dd06_neardup_components(spark, sf_dir)


@query(
    "tx12_textrank_keywords",
    oracle=f"""
    WITH toks AS (
        SELECT {words_sql()} AS t FROM documents
    ), raw AS (
        SELECT t, UNNEST(RANGE(1, LEN(t))) AS i FROM toks WHERE LEN(t) >= 2
    ), adj AS (
        SELECT t[i] AS a, t[i + 1] AS b FROM raw
    ), copairs AS (
        SELECT DISTINCT LEAST(a, b) AS part_a, GREATEST(a, b) AS part_b
        FROM adj
        WHERE LENGTH(a) >= 3 AND LENGTH(b) >= 3 AND a <> b
    )"""
    + _e0_cte()
    + _pagerank_oracle_chain(node_type="VARCHAR")
    + f"""
    SELECT node AS word, rank AS pr_micro
    FROM r{PR_ITERATIONS} ORDER BY pr_micro DESC, word LIMIT 20
    """,
)
def tx12_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction: PageRank over word co-occurrence.

    Mihalcea & Tarau's TextRank, corpus-level: nodes are words (≥ 3
    chars), edges connect words ADJACENT in running text (window 2,
    undirected, deduplicated), and importance is the stationary
    centrality — a word matters because it co-occurs with words that
    matter, which is what separates structural keywords from merely
    frequent ones (tx06's tf-idf scores terms by rarity; this scores
    them by connectivity). Reuses the IDENTICAL integer recurrence and
    oracle chain as gr01 — node ids are strings here, which the
    rank/degree arithmetic never touches; one operator core, two graph
    domains.

    Scale shape: the edge build is one tokenize + zip-shift projection
    (no shuffle) into a distinct on the (bounded-vocabulary) word-pair
    relation; PageRank then runs on a vocabulary-sized graph regardless
    of corpus size — the corpus-sized work is exactly one scan.
    """
    documents = load_table(spark, sf_dir, "documents")
    t = words()
    sz = F.size(t)
    adj = F.zip_with(
        F.slice(t, 1, sz - 1),
        F.slice(t, 2, sz - 1),
        lambda x, y: F.struct(x.alias("a"), y.alias("b")),
    )
    pairs = (
        documents.filter(sz >= 2)
        .select(F.explode(adj).alias("p"))
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .filter(
            (F.length("a") >= 3) & (F.length("b") >= 3) & (F.col("a") != F.col("b"))
        )
        .select(
            F.least("a", "b").alias("part_a"), F.greatest("a", "b").alias("part_b")
        )
        .distinct()
    )
    pr = pagerank_integer(pairs)
    return (
        pr.select(F.col("node").alias("word"), F.col("rank").alias("pr_micro"))
        .orderBy(F.desc("pr_micro"), F.asc("word"))
        .limit(20)
    )


@query(
    "gr03_weighted_pagerank",
    oracle=_copurchase_cte(weighted=True)
    + _pagerank_oracle_chain(weighted=True)
    + f"""
    SELECT node AS part, rank AS pr_micro
    FROM r{PR_ITERATIONS} ORDER BY pr_micro DESC, part LIMIT 20
    """,
)
def gr03_weighted_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 WEIGHTED co-purchase PageRank: frequency-aware centrality.

    gr01 treats a pair bought together 40 times and a pair that
    coincided once as the same edge; here mass splits proportionally to
    co-occurrence count, so parts tied by habitual co-purchase pull
    rank toward each other while one-off coincidences barely register —
    the difference between a bundle anchor and a lucky basket. Same
    int64 recurrence (contribution = rank·w div strength) and the same
    generated oracle chain with the weighted terms switched in; see
    :func:`pagerank_integer`.
    """
    edges = copurchase_edges_weighted(load_table(spark, sf_dir, "lineitem"))
    pr = pagerank_integer(edges, weight_col="w")
    return (
        pr.select(F.col("node").alias("part"), F.col("rank").alias("pr_micro"))
        .orderBy(F.desc("pr_micro"), F.asc("part"))
        .limit(20)
    )


@query(
    "gr04_personalized_pagerank",
    oracle=_copurchase_cte()
    + _pagerank_oracle_chain(personalized=True)
    + f"""
    SELECT node AS part, rank AS ppr_micro
    FROM r{PR_ITERATIONS}
    WHERE node <> seed
    ORDER BY ppr_micro DESC, part LIMIT 20
    """,
)
def gr04_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 parts RELATED TO the seed part: personalized PageRank.

    The related-items recommendation query: random walks restart at the
    seed (min part id in the 1995 co-purchase graph), so rank measures
    proximity to it — direct co-purchases score highest, then their
    co-purchases, decaying with distance. The seed itself is excluded
    from the answer (it holds the teleport mass by construction). See
    :func:`pagerank_integer` (``personalized=True``) for the integer
    recurrence.
    """
    edges = copurchase_edges(load_table(spark, sf_dir, "lineitem"))
    ppr = pagerank_integer(edges, personalized=True)
    return (
        ppr.filter(F.col("node") != F.col("seed"))
        .select(F.col("node").alias("part"), F.col("rank").alias("ppr_micro"))
        .orderBy(F.desc("ppr_micro"), F.asc("part"))
        .limit(20)
    )


def _nodes(bidir: DataFrame) -> DataFrame:
    """(node): every node with at least one edge."""
    return bidir.select(F.col("src").alias("node")).distinct()


def _peel(bidir: DataFrame, alive: DataFrame, k: int) -> tuple[DataFrame, DataFrame]:
    """One k-core peel round → (deg, next_alive).

    ``deg`` is (node, core_deg) within the subgraph induced by
    ``alive``: two node-keyed semi-joins plus one map-side-combined
    count. ``next_alive`` (its nodes with core_deg ≥ k) is eagerly
    localCheckpointed, so the unrolled lazy plan never re-derives the
    previous round per reference and lineage stays shallow.
    """
    e = bidir.join(alive, bidir["src"] == alive["node"], "left_semi")
    e = e.join(alive, e["dst"] == alive["node"], "left_semi")
    deg = _degree(e, "core_deg")
    alive_next = deg.filter(F.col("core_deg") >= k).select("node")
    return deg, alive_next.localCheckpoint(eager=True)


KCORE_K = 4
KCORE_ROUNDS = 8  # ≥ measured rounds-to-fixpoint at every test SF (7 at sf0.1)


def kcore_bounded(
    edges_canon: DataFrame, k: int = KCORE_K, rounds: int | None = KCORE_ROUNDS
) -> DataFrame:
    """K-core via iterative peeling → (node, core_deg) for survivors.

    Each round drops every node whose degree within the surviving
    subgraph is < k; the k-core is the fixpoint (Seidman '83 — the
    standard dense-subgraph / graph-sampling primitive). All arithmetic
    is integer (degree counts), so the recurrence is bit-exact across
    engines and the DuckDB oracle replays it round for round.

    ``rounds`` fixed (registry default): exactly that many peels run —
    deterministic at any SF whether or not converged, which is what
    makes the differential check exact; KCORE_ROUNDS is sized past the
    measured fixpoint at every test SF, so the answer IS the true
    k-core here. ``rounds=None``: run to fixpoint with a driver loop
    (one count() per round — the standard coordinator pattern for
    unbounded iteration; the pytest proves it matches the bounded form).

    Scale: each round is one :func:`_peel` (shuffles on the node-key
    family, alive set checkpointed per round). The alive set shrinks
    monotonically, and the round count is bounded by the peel depth,
    which for power-law graphs is small (degeneracy ordering, not
    diameter).
    """
    bidir = _bidir(edges_canon).localCheckpoint(eager=True)
    alive = _nodes(bidir).localCheckpoint(eager=True)
    prev_n = alive.count() if rounds is None else None
    r = 0
    while True:
        deg, alive = _peel(bidir, alive, k)
        r += 1
        if rounds is None:
            n = alive.count()
            if n == prev_n:
                break
            prev_n = n
        elif r >= rounds:
            break
    return deg.filter(F.col("core_deg") >= k).select("node", "core_deg")


def _kcore_chain(k: int, rounds: int) -> str:
    """Unrolled peeling CTEs: alive_r = {deg within alive_{r-1} >= k}.
    Shared by gr05 (core tail) and gr06 (layer tail).

    Every chain CTE is AS MATERIALIZED: each alive_r is referenced
    2-3× (both join sides of d_{r+1}, plus gr06's membership union),
    and DuckDB's default inlining would duplicate the whole upstream
    subtree per reference — 3^rounds expansion, measured as a
    gr06 oracle that never finished. Materialization makes the chain
    cost linear in rounds, matching how the Spark side
    localCheckpoints each round."""
    head = """
    , alive0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM e0)"""
    body = "".join(
        f"""
    , d{r} AS MATERIALIZED (
        SELECT e.src AS node, COUNT(*) AS core_deg
        FROM e0 e
        JOIN alive{r - 1} a ON e.src = a.node
        JOIN alive{r - 1} b ON e.dst = b.node
        GROUP BY 1
    ), alive{r} AS MATERIALIZED (SELECT node FROM d{r} WHERE core_deg >= {k})"""
        for r in range(1, rounds + 1)
    )
    return head + body


@query(
    "gr05_kcore",
    oracle=_copurchase_cte()
    + _kcore_chain(KCORE_K, KCORE_ROUNDS)
    + f"""
    SELECT node AS part, core_deg
    FROM d{KCORE_ROUNDS} WHERE core_deg >= {KCORE_K}
    ORDER BY part
    """,
)
def gr05_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The {K}-core of the 1995 co-purchase graph: parts that survive
    iterative peeling, with their within-core degree.

    The dense-backbone query (complements gr02's triangles): nodes in
    the 4-core participate in a subgraph where EVERY member has ≥4
    surviving co-purchase partners — the standard definition of a
    cohesive product cluster, robust to pendant/chain noise that raw
    degree filters keep. See :func:`kcore_bounded`.

    Parity: graph-analytics family beyond the reference's surface
    (SURVEY.md §2 extras), same bounded-iteration oracle discipline as
    gr01/gr03/gr04/tx12.
    """
    edges = copurchase_edges(load_table(spark, sf_dir, "lineitem"))
    return (
        kcore_bounded(edges, KCORE_K, KCORE_ROUNDS)
        .select(F.col("node").alias("part"), "core_deg")
        .orderBy("part")
    )


ONION_K = 2
ONION_ROUNDS = 8  # ≥ measured k=2 rounds-to-fixpoint at every test SF (7 at sf0.1)


def onion_layers(
    edges_canon: DataFrame, k: int = ONION_K, rounds: int = ONION_ROUNDS
) -> DataFrame:
    """Onion decomposition under k-peeling → (node, layer).

    layer = the round (1-based) at which the node was peeled; 0 = the
    node survives in the k-core after ``rounds`` rounds. With k=2 the
    layer is a graph-periphery depth: pendant trees peel inward one
    ring per round (leaves first), so high layers mark nodes close to
    the cohesive core — the graph-shaped counterpart of tp10's
    curriculum ordering, used to stage samples from periphery to core.
    Same integer peeling recurrence as :func:`kcore_bounded`; the
    peeled set per round is a set difference of consecutive alive sets
    (NOT "core_deg < k" rows — a node whose last neighbors were all
    peeled in the same round has no degree row at all, and the
    difference form catches it where the filter form would drop it).
    """
    bidir = _bidir(edges_canon).localCheckpoint(eager=True)
    alive = _nodes(bidir).localCheckpoint(eager=True)
    layers = []
    for r in range(1, rounds + 1):
        _, alive_next = _peel(bidir, alive, k)
        layers.append(
            alive.exceptAll(alive_next).select("node", F.lit(r).alias("layer"))
        )
        alive = alive_next
    layers.append(alive.select("node", F.lit(0).alias("layer")))
    return reduce(DataFrame.unionByName, layers)


def _onion_oracle(rounds: int) -> str:
    """Layer extraction over the same unrolled peeling chain as gr05.

    Count formulation, not per-round set differences: alive sets shrink
    monotonically, so a node peeled at round r belongs to exactly r-1 of
    alive_1..alive_R and layer = count+1 (count = R ⇒ survives ⇒ layer
    0). One union + one grouped left join instead of R NOT-IN
    anti-joins re-referencing every alive CTE."""
    mem = "\n        UNION ALL ".join(
        f"SELECT node FROM alive{r}" for r in range(1, rounds + 1)
    )
    return f"""
    , mem AS (
        {mem}
    ), cnt AS (
        SELECT a0.node, COUNT(m.node) AS c
        FROM alive0 a0 LEFT JOIN mem m ON a0.node = m.node
        GROUP BY a0.node
    )
    SELECT node AS part,
           CAST(CASE WHEN c = {rounds} THEN 0 ELSE c + 1 END AS INT) AS layer
    FROM cnt ORDER BY part
    """


@query(
    "gr06_onion_layers",
    oracle=_copurchase_cte()
    + _kcore_chain(ONION_K, ONION_ROUNDS)
    + _onion_oracle(ONION_ROUNDS),
)
def gr06_onion_layers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Onion layer per part in the 1995 co-purchase graph: the peel
    round under 2-core peeling (0 = survives in the 2-core).

    The periphery-depth signal behind graph-aware sampling: layer-1
    parts are one-off co-purchase leaves, higher layers sit closer to
    the dense backbone gr05 extracts, and layer 0 IS that backbone's
    2-core superset. See :func:`onion_layers` for the set-difference
    subtlety that makes zero-degree peels exact.

    Parity: graph-analytics family beyond the reference's surface
    (SURVEY.md §2 extras); shares gr05's unrolled-chain oracle.
    """
    edges = copurchase_edges(load_table(spark, sf_dir, "lineitem"))
    return (
        onion_layers(edges, ONION_K, ONION_ROUNDS)
        .select(F.col("node").alias("part"), F.col("layer").cast("int"))
        .orderBy("part")
    )


# --- gr07: label-propagation communities ------------------------------------

LPA_ROUNDS = 3
LPA_TOP = 20


def label_propagation(
    edges_canon: DataFrame, rounds: int = LPA_ROUNDS
) -> DataFrame:
    """Deterministic synchronous label propagation → (node, label).

    Raghavan et al.'s LPA with the two nondeterminism sources pinned
    down (same discipline as ml04's border rule): SYNCHRONOUS rounds
    (every node updates from the round r−1 labels — asynchronous LPA's
    answer depends on visit order) and a total tie order (most frequent
    neighbor label, ties → MIN label; textbook LPA breaks ties
    randomly, which is unreproducible by construction). Labels start as
    node ids, so early rounds let locally-minimal hubs seed their
    neighborhoods — the dense-community analog of min-label
    propagation, converging in a handful of rounds on co-purchase-style
    graphs. Bounded rounds keep the recurrence replayable; all state is
    integer node ids and counts. Known synchronous-LPA caveat, accepted
    deliberately: 2-colorable structures (an isolated edge, even
    cycles) oscillate instead of converging — triangle-dense
    co-purchase graphs don't, and the deterministic bounded form is
    what the differential oracle can replay (the semi-synchronous
    coloring fix would reintroduce an ordering choice).

    Scale shape: each round is one edge⋈label join (node-keyed), one
    map-side-combined (node, label) count, and one per-node argmax
    window over the count relation — shuffles stay on the node key
    family, and each round's label relation is localCheckpointed (the
    :func:`_peel` rationale).
    """
    from pyspark.sql import Window

    bidir = _bidir(edges_canon).localCheckpoint(eager=True)
    labels = (
        _nodes(bidir)
        .select("node", F.col("node").alias("label"))
        .localCheckpoint(eager=True)
    )
    w = Window.partitionBy("src").orderBy(F.desc("c"), F.asc("label"))
    for _ in range(rounds):
        nb = bidir.join(labels, bidir["dst"] == labels["node"]).select(
            "src", "label"
        )
        cnt = nb.groupBy("src", "label").agg(F.count(F.lit(1)).alias("c"))
        labels = (
            cnt.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(F.col("src").alias("node"), "label")
            .localCheckpoint(eager=True)
        )
    return labels


def _lpa_chain(rounds: int) -> str:
    """Unrolled LPA CTEs after ``copairs``; MATERIALIZED per the
    _kcore_chain lesson (each lab_r is referenced by the next round's
    join — default inlining re-expands the upstream chain)."""
    head = """
    , lab0 AS MATERIALIZED (
        SELECT DISTINCT src AS node, src AS label FROM e0
    )"""
    body = "".join(
        f"""
    , lab{r} AS MATERIALIZED (
        SELECT src AS node, label FROM (
            SELECT e.src, l.label, COUNT(*) AS c,
                   ROW_NUMBER() OVER (PARTITION BY e.src
                                      ORDER BY COUNT(*) DESC, l.label ASC)
                       AS rn
            FROM e0 e JOIN lab{r - 1} l ON e.dst = l.node
            GROUP BY e.src, l.label
        ) WHERE rn = 1
    )"""
        for r in range(1, rounds + 1)
    )
    return head + body


@query(
    "gr07_lpa_communities",
    oracle=_copurchase_cte()
    + _lpa_chain(LPA_ROUNDS)
    + f"""
    SELECT label AS community, CAST(COUNT(*) AS BIGINT) AS n_members
    FROM lab{LPA_ROUNDS}
    GROUP BY label
    ORDER BY n_members DESC, community ASC
    LIMIT {LPA_TOP}
    """,
)
def gr07_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 co-purchase communities by deterministic label propagation.

    The community-detection leg of the graph family: PageRank ranks
    nodes (gr01/gr03/gr04), k-core/onion find the dense backbone
    (gr05/gr06), components find connectivity (dd08) — LPA finds the
    CLUSTERS, the "products bought together" market segments that drive
    assortment and recommendation slates. See
    :func:`label_propagation` for the determinism pinning (synchronous
    rounds, min-label ties) that makes the recurrence replayable by the
    unrolled oracle chain.

    Parity: beyond-reference (§2.11 graph-analytics extension; the
    reference's co-ownership network analysis is the seed —
    cbddl/src/analytics/network_analyzer.py).
    """
    labels = label_propagation(copurchase_edges(load_table(spark, sf_dir, "lineitem")))
    return (
        labels.groupBy(F.col("label").alias("community"))
        .agg(F.count(F.lit(1)).alias("n_members"))
        .orderBy(F.desc("n_members"), F.asc("community"))
        .limit(LPA_TOP)
    )


# --- gr08: multi-source BFS hop distances ------------------------------------

BFS_ROUNDS = 4
BFS_SEED_MOD = 13


def _relax(bidir: DataFrame, dist: DataFrame, keys: tuple[str, ...] = ()) -> DataFrame:
    """One synchronous BFS relaxation of (*keys, node, dist): the min
    over the previous relation and every edge one hop out of it, per
    (*keys, node). One node-keyed join plus one map-side-combined
    groupBy-min; the result is eagerly localCheckpointed (the
    :func:`_peel` rationale). ``keys`` carries a per-source key through
    the hop, e.g. gr12's landmark ``seed``.
    """
    relaxed = bidir.join(dist, bidir["dst"] == dist["node"]).select(
        *keys, F.col("src").alias("node"), (F.col("dist") + F.lit(1)).alias("dist")
    )
    return (
        dist.unionByName(relaxed)
        .groupBy(*keys, "node")
        .agg(F.min("dist").alias("dist"))
        .localCheckpoint(eager=True)
    )


def bfs_hops(
    edges_canon: DataFrame,
    rounds: int = BFS_ROUNDS,
    seed_mod: int = BFS_SEED_MOD,
) -> DataFrame:
    """Bounded multi-source BFS → (node, dist) for nodes reached in
    ``rounds`` hops.

    The parallel-BFS textbook recurrence, synchronous and replayable:

        dist_0(v)   = 0 for v in the seed set
        dist_r(v)   = min(dist_{r-1}(v), min over in-neighbors u of
                      dist_{r-1}(u) + 1)

    expressed as union + min per round — the min over the union of the
    previous relation and every relaxed neighbor edge IS the BFS
    relaxation, and because hop counts are integers the recurrence is
    fold-order-free (no float min ties). Seeds are the nodes whose id
    divides ``seed_mod`` plus the minimum node id, so the seed set is
    deterministic AND provably non-empty on any graph.

    Scale shape: each round is one :func:`_relax` — the PageRank
    exchange layout, all shuffles on the node-key family. The dist
    relation only ever holds REACHED nodes (frontier-compact: unreached
    nodes never materialize a row until a relaxation reaches them).
    """
    bidir = _bidir(edges_canon).localCheckpoint(eager=True)
    nodes = _nodes(bidir)
    dist = (
        nodes.filter(F.col("node") % seed_mod == 0)
        .unionByName(nodes.agg(F.min("node").alias("node")))
        .distinct()
        .select("node", F.lit(0).cast("long").alias("dist"))
        .localCheckpoint(eager=True)
    )
    for _ in range(rounds):
        dist = _relax(bidir, dist)
    return dist


def _relax_chain(rounds: int, keys: tuple[str, ...] = ()) -> str:
    """Unrolled :func:`_relax` CTEs d1..d{rounds} over ``e0``, starting
    from the caller's ``d0(*keys, node, dist)``; MATERIALIZED per the
    _kcore_chain lesson (each d_r is referenced twice by round r+1)."""
    k = "".join(f"{c}, " for c in keys)
    dk = "".join(f"d.{c}, " for c in keys)
    return "".join(
        f"""
    , d{r} AS MATERIALIZED (
        SELECT {k}node, MIN(dist) AS dist FROM (
            SELECT {k}node, dist FROM d{r - 1}
            UNION ALL
            SELECT {dk}e.src AS node, d.dist + 1 AS dist
            FROM e0 e JOIN d{r - 1} d ON e.dst = d.node
        ) GROUP BY {k}node
    )"""
        for r in range(1, rounds + 1)
    )


@query(
    "gr08_bfs_hops",
    oracle=_copurchase_cte()
    + f"""
    , n0 AS MATERIALIZED (
        SELECT DISTINCT src AS node FROM e0
    ), d0 AS MATERIALIZED (
        SELECT node, CAST(0 AS BIGINT) AS dist FROM (
            SELECT node FROM n0 WHERE node % {BFS_SEED_MOD} = 0
            UNION
            SELECT MIN(node) FROM n0
        )
    )"""
    + _relax_chain(BFS_ROUNDS)
    + f"""
    SELECT COALESCE(d.dist, -1) AS hops, CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM n0 n LEFT JOIN d{BFS_ROUNDS} d ON n.node = d.node
    GROUP BY 1
    ORDER BY hops
    """,
)
def gr08_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reachability profile of the co-purchase graph: how many nodes sit
    0, 1, 2, 3, 4 hops from the seed set, and how many are unreached
    (hops = -1) after BFS_ROUNDS relaxations.

    The graph-radius audit leg of the graph family: PageRank ranks
    (gr01), k-core/onion measure density (gr05/gr06), LPA clusters
    (gr07), components connect (dd08) — BFS measures DISTANCE, the
    primitive behind "within N recommendation hops", influence-radius
    caps, and crawl-frontier budgeting. See :func:`bfs_hops` for the
    synchronous integer recurrence the unrolled oracle chain replays.

    Parity: beyond-reference (§2.11 graph-analytics extension; seed
    cbddl/src/analytics/network_analyzer.py's co-ownership distance
    views).
    """
    edges = copurchase_edges(load_table(spark, sf_dir, "lineitem")).localCheckpoint(
        eager=True
    )
    nodes = (
        edges.select(F.col("part_a").alias("node"))
        .unionByName(edges.select(F.col("part_b").alias("node")))
        .distinct()
    )
    dist = bfs_hops(edges)
    return (
        nodes.join(dist, "node", "left")
        .select(F.coalesce(F.col("dist"), F.lit(-1).cast("long")).alias("hops"))
        .groupBy("hops")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .orderBy("hops")
    )


# --- gr09: link prediction by common neighbors --------------------------------

LP_MAX_DEG = 64  # wedge-center degree cap: bounds candidate volume
LP_TOP = 20


def link_candidates(edges_canon: DataFrame) -> DataFrame:
    """(u < v, common_neighbors) for every NON-adjacent pair sharing a
    wedge center of degree ≤ LP_MAX_DEG — gr09's candidate relation
    before ranking. The neighbor relation is eagerly localCheckpointed
    because both sides of the wedge self-join read it."""
    bidir = _bidir(edges_canon)
    # Not _degree: the join is on ``src``, and renaming _degree's
    # ``node`` back would add a projection to the plan.
    deg = bidir.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    nb = (
        bidir.join(deg.filter(F.col("deg") <= LP_MAX_DEG).select("src"), "src")
        .select(F.col("src").alias("w"), F.col("dst").alias("n"))
        .localCheckpoint(eager=True)
    )
    a, b = nb.alias("a"), nb.alias("b")
    cn = (
        a.join(b, on=[F.col("a.w") == F.col("b.w"), F.col("a.n") < F.col("b.n")])
        .groupBy(F.col("a.n").alias("u"), F.col("b.n").alias("v"))
        .agg(F.count(F.lit(1)).alias("common_neighbors"))
    )
    return cn.join(
        edges_canon,
        on=[cn["u"] == edges_canon["part_a"], cn["v"] == edges_canon["part_b"]],
        how="left_anti",
    )


@query(
    "gr09_link_prediction",
    oracle=_copurchase_cte()
    + f"""
    , deg AS MATERIALIZED (
        SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg FROM e0 GROUP BY src
    ), nb AS MATERIALIZED (
        SELECT e.src AS w, e.dst AS n
        FROM e0 e JOIN deg d ON e.src = d.node
        WHERE d.deg <= {LP_MAX_DEG}
    ), cn AS (
        SELECT a.n AS u, b.n AS v, CAST(COUNT(*) AS BIGINT) AS common_neighbors
        FROM nb a JOIN nb b ON a.w = b.w AND a.n < b.n
        GROUP BY a.n, b.n
    )
    SELECT cn.u, cn.v, cn.common_neighbors
    FROM cn LEFT JOIN copairs e ON cn.u = e.part_a AND cn.v = e.part_b
    WHERE e.part_a IS NULL
    ORDER BY cn.common_neighbors DESC, cn.u, cn.v
    LIMIT {LP_TOP}
    """,
)
def gr09_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 predicted links: non-adjacent node pairs ranked by
    common-neighbor count over the co-purchase graph.

    The link-prediction leg of the graph family (Liben-Nowell &
    Kleinberg's common-neighbors baseline): enumerate unordered
    neighbor pairs around each wedge center, count per pair, ANTI-join
    the existing edge set, rank. The score stays an exact integer (the
    Adamic-Adar refinement divides by log deg — a libm call, not
    differentially testable; common-neighbors preserves the candidate
    ORDER for the overwhelmingly common case and is what the candidate
    generator feeds a ranker with anyway).

    Scale shape: wedge enumeration is the Σ deg(w)² cost family, so
    centers above LP_MAX_DEG are excluded — the standard candidate-
    generation cap (a hub shared by everyone predicts nothing; its
    wedges are quadratic noise). The cap bounds per-center work at
    LP_MAX_DEG²/2 pairs and makes total volume linear in nodes; the
    anti-join runs on the canonical (u < v) pair key. All shuffles on
    the node/pair key family.

    Parity: beyond-reference (§2.11 graph-analytics extension; seed
    cbddl/src/analytics/network_analyzer.py's co-ownership link views).
    """
    edges = copurchase_edges(load_table(spark, sf_dir, "lineitem")).localCheckpoint(
        eager=True
    )
    return (
        link_candidates(edges)
        .orderBy(F.desc("common_neighbors"), "u", "v")
        .limit(LP_TOP)
    )


# --- gr10: degree assortativity ------------------------------------------------


@query(
    "gr10_degree_assortativity",
    oracle=_copurchase_cte()
    + """
    , deg AS MATERIALIZED (
        SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg FROM e0 GROUP BY src
    ), endp AS (
        SELECT ds.deg AS x, dd.deg AS y
        FROM e0 e
        JOIN deg ds ON e.src = ds.node
        JOIN deg dd ON e.dst = dd.node
    ), stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS m,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(y * y) AS BIGINT) AS syy,
               CAST(SUM(x * y) AS BIGINT) AS sxy
        FROM endp
    )
    SELECT m, m * sxy - sx * sy AS cov_num,
           m * sxx - sx * sx AS var_x,
           m * syy - sy * sy AS var_y,
           round(cast(m * sxy - sx * sy as double)
                 / nullif(sqrt(cast(m * sxx - sx * sx as double))
                          * sqrt(cast(m * syy - sy * sy as double)), 0), 6)
               AS assortativity
    FROM stats
    """,
)
def gr10_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the co-purchase graph: do hubs link to
    hubs (r > 0) or to leaves (r < 0)?

    Newman's assortativity coefficient (2002) is the Pearson
    correlation of endpoint degrees over the DIRECTED edge list (each
    undirected edge contributes both orientations, making the measure
    symmetric) — and Pearson, like ts10's OLS, reduces to ONE pass of
    integer sufficient statistics: m, Σx, Σy, Σx², Σy², Σxy over
    (deg(src), deg(dst)) pairs. The three moments the output carries
    (covariance and both variance numerators) are exact BIGINTs;
    only the final r divides through sqrt — computed from the SAME
    integers with the identical expression tree on both engines
    (ab01's parse-tree trick), NULLIF-guarded for the regular-graph
    degenerate case (zero variance ⇒ r undefined ⇒ NULL).

    Scale shape: two node-keyed joins attach endpoint degrees (same
    exchange family as every gr* op) and one 1-row aggregate; nothing
    else moves. Structural context for the rest of the family:
    disassortative graphs (hub-leaf) are where gr09's LP_MAX_DEG cap
    and skew-salting matter most.

    Parity: beyond-reference (§2.11 graph-analytics extension; seed
    cbddl/src/analytics/network_analyzer.py).
    """
    edges = copurchase_edges(load_table(spark, sf_dir, "lineitem"))
    bidir = _bidir(edges).localCheckpoint(eager=True)
    deg = _degree(bidir)
    endp = (
        bidir.join(deg.select(F.col("node").alias("s"), F.col("deg").alias("x")),
                   bidir["src"] == F.col("s"))
        .join(deg.select(F.col("node").alias("d"), F.col("deg").alias("y")),
              bidir["dst"] == F.col("d"))
        .select("x", "y")
    )
    stats = endp.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    return stats.select(
        "m",
        (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")).alias("cov_num"),
        (F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")).alias("var_x"),
        (F.col("m") * F.col("syy") - F.col("sy") * F.col("sy")).alias("var_y"),
        F.expr(
            "round(cast(m * sxy - sx * sy as double)"
            " / nullif(sqrt(cast(m * sxx - sx * sx as double))"
            "          * sqrt(cast(m * syy - sy * sy as double)), 0), 6)"
        ).alias("assortativity"),
    )


# --- gr11: local clustering coefficient -----------------------------------------

CC_TOP = 25
CC_MIN_DEG = 2  # coefficient undefined below 2 neighbors


@query(
    "gr11_clustering_coefficient",
    oracle=_copurchase_cte()
    + _TRIANGLE_MEMBER_CTE
    + f"""
    , tcnt AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri FROM member GROUP BY node
    ), deg AS (
        SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg FROM e0 GROUP BY src
    )
    SELECT d.node, d.deg,
           COALESCE(t.n_tri, 0) AS n_tri,
           d.deg * (d.deg - 1) // 2 AS n_wedges,
           ROUND(CAST(2 * COALESCE(t.n_tri, 0) AS DOUBLE)
                 / CAST(d.deg * (d.deg - 1) AS DOUBLE), 6) AS coefficient
    FROM deg d LEFT JOIN tcnt t ON d.node = t.node
    WHERE d.deg >= {CC_MIN_DEG}
    ORDER BY coefficient DESC, d.deg DESC, d.node ASC
    LIMIT {CC_TOP}
    """,
)
def gr11_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 nodes by local clustering coefficient: what fraction of a
    node's neighbor pairs are themselves connected.

    Watts & Strogatz's cohesion metric, assembled entirely from
    relations the graph family already produces: triangle counts
    (gr02's degree-oriented enumeration — O(E^1.5), never the naive
    3-way product the ORACLE deliberately uses) joined with degrees;
    coefficient = n_tri / C(deg, 2). Both inputs are exact BIGINTs
    (n_wedges carried in the output as the denominator witness), the
    ratio is the single float with an identical parse tree on both
    engines, and the tie order (coefficient DESC, deg DESC, node ASC)
    is total — the coefficient is a ratio of integers, so equal ratios
    are EXACTLY equal, not approximately.

    Scale shape: triangle counting dominates (the documented E^1.5
    wedge bound); everything after is node-keyed joins over node-sized
    relations.

    Parity: beyond-reference (§2.11 graph-analytics extension; seed
    cbddl/src/analytics/network_analyzer.py's cohesion views).
    """
    edges = copurchase_edges(load_table(spark, sf_dir, "lineitem")).localCheckpoint(
        eager=True
    )
    # Not _degree: its rename projection would sit above the deg filter
    # here instead of being folded into the aggregate.
    deg = _bidir(edges).groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    return (
        deg.join(triangle_counts(edges), "node", "left")
        .filter(F.col("deg") >= CC_MIN_DEG)
        .select(
            "node",
            "deg",
            F.coalesce(F.col("n_tri"), F.lit(0).cast("long")).alias("n_tri"),
            F.expr("deg * (deg - 1) div 2").alias("n_wedges"),
            F.expr(
                "round(cast(2 * coalesce(n_tri, 0) as double)"
                " / cast(deg * (deg - 1) as double), 6)"
            ).alias("coefficient"),
        )
        .orderBy(F.desc("coefficient"), F.desc("deg"), F.asc("node"))
        .limit(CC_TOP)
    )


# --- gr12: landmark harmonic centrality ----------------------------------------------

HARMONIC_K = 8  # fixed landmark panel: the K smallest node ids
HARMONIC_ROUNDS = 4  # same bounded-radius convention as gr08


@query(
    "gr12_harmonic_centrality",
    oracle=_copurchase_cte()
    + f"""
    , n0 AS MATERIALIZED (
        SELECT DISTINCT src AS node FROM e0
    ), seeds AS MATERIALIZED (
        SELECT node AS seed FROM n0 ORDER BY node LIMIT {HARMONIC_K}
    ), d0 AS MATERIALIZED (
        SELECT seed, seed AS node, CAST(0 AS BIGINT) AS dist FROM seeds
    )"""
    + _relax_chain(HARMONIC_ROUNDS, ("seed",))
    + f"""
    SELECT seed,
           CAST(COUNT(CASE WHEN dist >= 1 THEN 1 END) AS BIGINT) AS n_reached,
           CAST(COALESCE(SUM(CASE WHEN dist >= 1 THEN 1000 // dist END), 0)
                AS BIGINT) AS harmonic_milli
    FROM d{HARMONIC_ROUNDS}
    GROUP BY seed
    ORDER BY seed
    """,
)
def gr12_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-radius harmonic centrality of a fixed LANDMARK panel
    (Boldi & Vigna's axiom-respecting centrality, Σ 1/d over reachable
    nodes): how central are the K lowest-id nodes of the co-purchase
    graph within {HARMONIC_ROUNDS} hops. Completes the graph family's
    centrality ladder — gr01 ranks by stationary flow, gr10 measures
    mixing, this measures DISTANCE-centrality, the "how quickly can
    this node's influence cover the graph" number behind seed selection
    for campaigns/crawls.

    All-pairs harmonic centrality is O(n·m) and off the table at scale;
    the landmark form keeps state at K×|reached| (K fixed), which is
    the standard production compromise (and the BFS state is one
    (seed, node)-keyed relation — the gr08 recurrence with the seed
    carried along, same O(log-ish) bounded rounds, localCheckpointed
    per round to cut the lineage). Contributions are integer
    1000 // dist per reached node — BIGINT end to end, no float SUM
    order to trap the driver hash (dist ∈ {{1..{HARMONIC_ROUNDS}}}).
    """
    edges = copurchase_edges(load_table(spark, sf_dir, "lineitem")).localCheckpoint(
        eager=True
    )
    bidir = _bidir(edges)
    seeds = _nodes(bidir).orderBy("node").limit(HARMONIC_K).select(F.col("node").alias("seed"))
    dist = seeds.select(
        "seed", F.col("seed").alias("node"), F.lit(0).cast("long").alias("dist")
    ).localCheckpoint(eager=True)
    for _ in range(HARMONIC_ROUNDS):
        dist = _relax(bidir, dist, ("seed",))
    return (
        dist.groupBy("seed")
        .agg(
            F.count(F.when(F.col("dist") >= 1, 1)).alias("n_reached"),
            F.coalesce(
                F.sum(F.when(F.col("dist") >= 1, F.expr("1000 div dist"))), F.lit(0)
            ).alias("harmonic_milli"),
        )
        .orderBy("seed")
    )
