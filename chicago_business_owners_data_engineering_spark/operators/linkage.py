"""Entity resolution / record linkage (beyond-reference, §2.11 family).

The reference links records across datasets by an exact natural key
(``Account Number`` joins Business Owners ↔ Business Licenses,
readme.md:70-71,83) and dedups dimension rows on a composed name key
(cbddl/src/etl/pipeline.py:344). Real catalogs rarely have clean keys —
the production pattern is **blocked fuzzy matching**:

1. BLOCK: partition candidates by cheap deterministic keys so the
   quadratic comparison only runs inside small blocks (here: the product
   noun + brand). At 100 TB this is the whole ballgame — one shuffle on
   the block key, never an all-pairs cross join; cost is
   Σ block_size², bounded by the blocking-key design.
2. COMPARE: an edit-distance predicate inside each block
   (``levenshtein`` is JVM whole-stage-codegen — no Python).
3. CLUSTER: matched pairs are not transitive, so connected components
   turn pairwise matches into entities (reusing the same min-label
   large-star/small-star engine as near-dup dedup,
   graph.py:components_large_small_star).
4. SURVIVE: pick one canonical record per entity (cheapest listing),
   a ``min_by`` hash aggregate.

Oracle twins: DuckDB ``levenshtein`` + a recursive-CTE reachability for
the component step (same proven pattern as dd06/dd07).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import query

# NOTE: components_large_small_star is imported inside the queries (not
# here): graph.py imports registry, registry imports every operator
# module, and a module-level graph import from HERE would leave graph
# partially initialized whenever graph itself is the first module
# imported.

MAX_EDIT = 2


def _blocked_pairs(part: DataFrame) -> DataFrame:
    """Candidate pairs inside (product-noun, brand) blocks, scored.

    The self-join key is the block key, so Spark plans one shuffle on
    (noun, brand) and compares only within blocks. Edit distance 0
    (identical names) is exact-dup territory (dd01's job); the fuzzy
    band is 1..MAX_EDIT.
    """
    sides = part.select(
        "p_partkey",
        "p_name",
        "p_brand",
        "p_retailprice",
        F.element_at(F.split("p_name", " "), -1).alias("block_noun"),
    )
    # Spread the probe side across the cluster BY BLOCK KEY before the
    # quadratic compare. At scale this is the shuffle the blocked join
    # needs anyway; locally it also undoes the single-row-group test
    # fixture's 1-task scan, which otherwise serializes ~1M levenshtein
    # calls on one core (measured 5.0 s -> 0.9 s at sf0.1).
    parallelism = part.sparkSession.sparkContext.defaultParallelism
    probe = sides.repartition(parallelism, "block_noun", "p_brand")
    a, b = probe.alias("a"), sides.alias("b")
    dist = F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
    return (
        a.join(
            b,
            on=[
                F.col("a.block_noun") == F.col("b.block_noun"),
                F.col("a.p_brand") == F.col("b.p_brand"),
                F.col("a.p_partkey") < F.col("b.p_partkey"),
            ],
        )
        .filter(dist.between(1, MAX_EDIT))
        .select(
            F.col("a.p_partkey").alias("part_a"),
            F.col("b.p_partkey").alias("part_b"),
            F.col("a.p_name").alias("name_a"),
            F.col("b.p_name").alias("name_b"),
            dist.alias("edit_dist"),
        )
    )


@query(
    "er01_blocked_fuzzy_pairs",
    oracle="""
    SELECT a.p_partkey AS part_a, b.p_partkey AS part_b,
           a.p_name AS name_a, b.p_name AS name_b,
           levenshtein(a.p_name, b.p_name) AS edit_dist
    FROM part a JOIN part b
      ON split_part(a.p_name, ' ', 2) = split_part(b.p_name, ' ', 2)
     AND a.p_brand = b.p_brand
     AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) BETWEEN 1 AND 2
    """,
)
def er01_blocked_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy-match candidate pairs over the part catalog.

    "Same brand, same product noun, near-identical name" — the classic
    variant-listing detector. The block key keeps the comparison count
    at Σ block², and the levenshtein predicate runs inside whole-stage
    codegen; the plan is scan → one shuffle on the block key → SMJ →
    filter. No cross join, no UDF.
    """
    return _blocked_pairs(load_table(spark, sf_dir, "part"))


# Shared recursive-CTE oracle prefix: blocked fuzzy edges -> two-way
# reachability -> min-label components. er02 composes survivorship on
# top, guaranteeing both queries verify against the same match graph.
_ER_COMPONENT_CTE = """
    WITH RECURSIVE pairs AS (
        SELECT a.p_partkey AS part_a, b.p_partkey AS part_b
        FROM part a JOIN part b
          ON split_part(a.p_name, ' ', 2) = split_part(b.p_name, ' ', 2)
         AND a.p_brand = b.p_brand
         AND a.p_partkey < b.p_partkey
        WHERE levenshtein(a.p_name, b.p_name) BETWEEN 1 AND 2
    ), edges AS (
        SELECT part_a AS src, part_b AS dst FROM pairs
        UNION ALL
        SELECT part_b, part_a FROM pairs
    ), reach(node, r) AS (
        SELECT DISTINCT src, src FROM edges
        UNION
        SELECT e.dst, r.r FROM reach r JOIN edges e ON r.node = e.src
    ), comp AS (
        SELECT node AS p_partkey, MIN(r) AS entity_id FROM reach GROUP BY node
    )
"""


@query(
    "er02_entity_clusters",
    oracle=_ER_COMPONENT_CTE
    + """
    , ranked AS (
        SELECT c.p_partkey, c.entity_id, p.p_retailprice,
               ROW_NUMBER() OVER (PARTITION BY c.entity_id
                                  ORDER BY p.p_retailprice ASC, c.p_partkey ASC) AS rn
        FROM comp c JOIN part p ON c.p_partkey = p.p_partkey
    ), canon AS (
        SELECT entity_id, p_partkey AS canonical_partkey FROM ranked WHERE rn = 1
    )
    SELECT r.p_partkey, r.entity_id, k.canonical_partkey,
           r.p_partkey = k.canonical_partkey AS keep
    FROM ranked r JOIN canon k ON r.entity_id = k.entity_id
    ORDER BY r.p_partkey
    """,
)
def er02_entity_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entities from matched pairs + cheapest-listing survivorship.

    Connected components over er01's match graph (min-label
    propagation, one shuffle per round, rounds = graph diameter), then
    one canonical record per entity: lowest retail price, ties broken
    by min partkey — a single ``min_by`` hash aggregate with map-side
    combine, no per-entity sort.
    """
    from .graph import components_large_small_star

    part = load_table(spark, sf_dir, "part")
    pairs = _blocked_pairs(part).select(
        F.col("part_a").alias("doc_a"), F.col("part_b").alias("doc_b")
    )
    comp = components_large_small_star(pairs).select(
        F.col("doc_id").alias("p_partkey"), F.col("component").alias("entity_id")
    )
    priced = comp.join(part.select("p_partkey", "p_retailprice"), "p_partkey")
    canon = priced.groupBy("entity_id").agg(
        F.min_by(
            "p_partkey", F.struct(F.col("p_retailprice"), F.col("p_partkey"))
        ).alias("canonical_partkey")
    )
    return (
        priced.join(canon, "entity_id")
        .select(
            "p_partkey",
            "entity_id",
            "canonical_partkey",
            (F.col("p_partkey") == F.col("canonical_partkey")).alias("keep"),
        )
        .orderBy("p_partkey")
    )


@query(
    "er03_entity_revenue",
    oracle=_ER_COMPONENT_CTE
    + """
    , mapped AS (
        SELECT l.l_partkey,
               COALESCE(c.entity_id, l.l_partkey) AS entity_id,
               CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
                   * (100 - CAST(ROUND(l.l_discount * 100) AS BIGINT)) AS rev_cc
        FROM lineitem l LEFT JOIN comp c ON l.l_partkey = c.p_partkey
    ), rolled AS (
        SELECT entity_id,
               CAST(COUNT(*) AS BIGINT) AS n_items,
               CAST(SUM(rev_cc) AS BIGINT) AS revenue_cc,
               CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_listings
        FROM mapped GROUP BY entity_id
    )
    SELECT entity_id, n_items, revenue_cc, n_listings
    FROM rolled
    WHERE n_listings > 1
    ORDER BY revenue_cc DESC, entity_id
    LIMIT 20
    """,
)
def er03_entity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact rollup at the RESOLVED-entity grain — why ER matters.

    Revenue grouped by raw part key splits one real-world product
    across its variant listings; grouping by er02's entity id reunites
    them. Lineitem maps to entities through a broadcast of the (tiny)
    component relation — unmatched parts are their own singleton
    entity via coalesce — then one hash aggregate; the top spots go to
    entities whose revenue was fragmented across >1 listing, exactly
    the rows a raw-key rollup would understate. One broadcast join +
    one shuffle on entity_id; the ER graph work is amortized across
    every downstream rollup that reuses it.

    Revenue is summed in integer cent-percent units (price cents ×
    (100 − discount pct)) — float SUMs of this magnitude land on
    ROUND boundaries and flip the last cent between engines depending
    on summation order; integer money math is both the production
    practice and bit-deterministic everywhere.
    """
    from .graph import components_large_small_star

    part = load_table(spark, sf_dir, "part")
    lineitem = load_table(spark, sf_dir, "lineitem")
    pairs = _blocked_pairs(part).select(
        F.col("part_a").alias("doc_a"), F.col("part_b").alias("doc_b")
    )
    comp = components_large_small_star(pairs).select(
        F.col("doc_id").alias("p_partkey"), F.col("component").alias("entity_id")
    )
    rev_cc = F.round(F.col("l_extendedprice") * 100).cast("long") * (
        F.lit(100) - F.round(F.col("l_discount") * 100).cast("long")
    )
    mapped = (
        lineitem.join(F.broadcast(comp), lineitem["l_partkey"] == comp["p_partkey"], "left")
        .select(
            "l_partkey",
            F.coalesce("entity_id", "l_partkey").alias("entity_id"),
            rev_cc.alias("rev_cc"),
        )
    )
    return (
        mapped.groupBy("entity_id")
        .agg(
            F.count("*").alias("n_items"),
            F.sum("rev_cc").alias("revenue_cc"),
            F.countDistinct("l_partkey").alias("n_listings"),
        )
        .filter(F.col("n_listings") > 1)
        .orderBy(F.desc("revenue_cc"), "entity_id")
        .limit(20)
    )


# --- er04: field-level survivorship (golden record) ---------------------------


@query(
    "er04_golden_record",
    oracle=_ER_COMPONENT_CTE
    + """
    , members AS (
        SELECT c.entity_id, p.p_partkey, p.p_brand, p.p_type, p.p_size,
               CAST(ROUND(p.p_retailprice * 100) AS BIGINT) AS price_cents
        FROM comp c JOIN part p ON c.p_partkey = p.p_partkey
    ), brand_mode AS (
        SELECT entity_id, p_brand FROM (
            SELECT entity_id, p_brand,
                   ROW_NUMBER() OVER (PARTITION BY entity_id
                                      ORDER BY COUNT(*) DESC, p_brand ASC) AS rn
            FROM members GROUP BY entity_id, p_brand
        ) WHERE rn = 1
    ), type_mode AS (
        SELECT entity_id, p_type FROM (
            SELECT entity_id, p_type,
                   ROW_NUMBER() OVER (PARTITION BY entity_id
                                      ORDER BY COUNT(*) DESC, p_type ASC) AS rn
            FROM members GROUP BY entity_id, p_type
        ) WHERE rn = 1
    ), spans AS (
        SELECT entity_id,
               CAST(COUNT(*) AS BIGINT) AS n_members,
               CAST(MIN(p_size) AS BIGINT) AS size_min,
               CAST(MAX(p_size) AS BIGINT) AS size_max,
               MIN(price_cents) AS price_cents_min
        FROM members GROUP BY entity_id
    )
    SELECT s.entity_id, s.n_members, b.p_brand AS brand, t.p_type AS type,
           s.size_min, s.size_max, s.price_cents_min
    FROM spans s
    JOIN brand_mode b ON s.entity_id = b.entity_id
    JOIN type_mode t ON s.entity_id = t.entity_id
    WHERE s.n_members > 1
    ORDER BY s.entity_id
    """,
)
def er04_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Field-level survivorship: one golden record per matched entity,
    each field resolved by its own rule.

    The MDM step after er02's whole-record pick: real master-data
    pipelines resolve CONFLICTS per field — categorical fields take the
    most frequent value (ties → lexicographic min, so the answer is a
    total function of the cluster), numeric ranges keep min/max spans,
    price takes the integer-cents minimum. Each mode is one
    (entity, value) count plus a per-entity argmax window — the
    exchange stays on the entity-key family and the windows run on
    cluster-cardinality-sized relations. Single-member entities are
    excluded: a golden record of one listing is the listing.

    Scale shape: components come from the blocked er01 match graph
    (never all-pairs); everything after is entity-keyed aggregates over
    the dim-sized part relation. At 100 TB the match graph is the
    stored output of the linkage run and this reads it.

    Parity: the reference's dedup/survivorship seed is
    cbddl/src/etl/pipeline.py:296,329 (drop_duplicates keeps the first
    row — whole-record); field-level resolution is the beyond-reference
    extension.
    """
    from .graph import components_large_small_star

    part = load_table(spark, sf_dir, "part")
    pairs = _blocked_pairs(part).select(
        F.col("part_a").alias("doc_a"), F.col("part_b").alias("doc_b")
    )
    comp = components_large_small_star(pairs).select(
        F.col("doc_id").alias("p_partkey"), F.col("component").alias("entity_id")
    )
    members = comp.join(part, "p_partkey").select(
        "entity_id",
        "p_brand",
        "p_type",
        "p_size",
        F.round(F.col("p_retailprice") * 100).cast("long").alias("price_cents"),
    )

    def mode_of(col: str) -> DataFrame:
        w = Window.partitionBy("entity_id").orderBy(F.desc("c"), F.asc(col))
        return (
            members.groupBy("entity_id", col)
            .agg(F.count(F.lit(1)).alias("c"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("entity_id", col)
        )

    spans = members.groupBy("entity_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min("p_size").cast("long").alias("size_min"),
        F.max("p_size").cast("long").alias("size_max"),
        F.min("price_cents").alias("price_cents_min"),
    )
    return (
        spans.join(mode_of("p_brand").withColumnRenamed("p_brand", "brand"), "entity_id")
        .join(mode_of("p_type").withColumnRenamed("p_type", "type"), "entity_id")
        .filter(F.col("n_members") > 1)
        .select(
            "entity_id",
            "n_members",
            "brand",
            "type",
            "size_min",
            "size_max",
            "price_cents_min",
        )
        .orderBy("entity_id")
    )


# --- er05: blocking quality readout --------------------------------------------


@query(
    "er05_blocking_quality",
    oracle=f"""
    WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_records FROM part),
    blocked AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS candidate_pairs,
               CAST(COUNT(CASE WHEN levenshtein(a.p_name, b.p_name)
                                    BETWEEN 1 AND {MAX_EDIT} THEN 1 END) AS BIGINT)
                   AS found_matches
        FROM part a JOIN part b
          ON split_part(a.p_name, ' ', 2) = split_part(b.p_name, ' ', 2)
         AND a.p_brand = b.p_brand
         AND a.p_partkey < b.p_partkey
    ), brute AS (
        SELECT CAST(COUNT(CASE WHEN levenshtein(a.p_name, b.p_name)
                                    BETWEEN 1 AND {MAX_EDIT} THEN 1 END) AS BIGINT)
                   AS true_matches
        FROM part a JOIN part b
          ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
    )
    SELECT n.n_records, blocked.candidate_pairs, blocked.found_matches,
           brute.true_matches,
           ROUND(1.0 - 2.0 * blocked.candidate_pairs
                     / (n.n_records * (n.n_records - 1)), 6) AS reduction_ratio,
           ROUND(blocked.found_matches * 1.0 / brute.true_matches, 6)
               AS pair_completeness
    FROM n, blocked, brute
    """,
)
def er05_blocking_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-quality readout for the er01 matcher — the two numbers
    every ER blocking scheme is judged by: REDUCTION RATIO (what share
    of the n·(n−1)/2 comparison space the blocks eliminate) and PAIR
    COMPLETENESS (what share of true fuzzy matches survive blocking).
    The ER twin of sim15's ANN recall eval: candidate generators must
    be measured, not trusted.

    The TRUE match universe is brand-exact + fuzzy name (brand is an
    exact attribute no real matcher fuzzes; edit distance alone would
    count coincidentally-similar names of unrelated products as
    "matches"). The blocking under eval adds the product-NOUN
    restriction for tractability — pair completeness measures exactly
    what that costs: variants whose edit sits IN the noun are the
    pairs blocking loses. The truth leg therefore self-joins on brand
    (an equi-join over brand groups — Σ|brand|² comparisons, the
    eval's deliberate exact cost; at 100 TB it runs on a stratified
    brand sample). The candidate count is taken BEFORE the
    edit-distance filter — that is what blocking does or doesn't
    eliminate. Ratios are ROUND()ed doubles computed from BIGINT
    counts with textually identical expressions on both engines.
    """
    part = load_table(spark, sf_dir, "part")
    sides = part.select(
        "p_partkey",
        "p_name",
        "p_brand",
        F.element_at(F.split("p_name", " "), -1).alias("block_noun"),
    )
    parallelism = part.sparkSession.sparkContext.defaultParallelism
    probe = sides.repartition(parallelism, "block_noun", "p_brand")
    a, b = probe.alias("a"), sides.alias("b")
    dist = F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
    blocked = a.join(
        b,
        on=[
            F.col("a.block_noun") == F.col("b.block_noun"),
            F.col("a.p_brand") == F.col("b.p_brand"),
            F.col("a.p_partkey") < F.col("b.p_partkey"),
        ],
    ).agg(
        F.count("*").alias("candidate_pairs"),
        F.count(F.when(dist.between(1, MAX_EDIT), 1)).alias("found_matches"),
    )
    # truth leg: brand-keyed equi self-join (one shuffle on p_brand;
    # Σ|brand-group|² levenshtein evals — the eval's exact cost)
    ba, bb = (
        part.select("p_partkey", "p_name", "p_brand")
        .repartition(parallelism, "p_brand")
        .alias("a"),
        part.select("p_partkey", "p_name", "p_brand").alias("b"),
    )
    bdist = F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
    brute = ba.join(
        bb,
        (F.col("a.p_brand") == F.col("b.p_brand"))
        & (F.col("a.p_partkey") < F.col("b.p_partkey")),
    ).agg(F.count(F.when(bdist.between(1, MAX_EDIT), 1)).alias("true_matches"))
    n = part.agg(F.count("*").alias("n_records"))
    out = n.crossJoin(blocked).crossJoin(brute)
    return out.select(
        "n_records",
        "candidate_pairs",
        "found_matches",
        "true_matches",
        F.round(
            1.0
            - 2.0 * F.col("candidate_pairs") / (F.col("n_records") * (F.col("n_records") - 1)),
            6,
        ).alias("reduction_ratio"),
        F.round(F.col("found_matches") * 1.0 / F.col("true_matches"), 6).alias(
            "pair_completeness"
        ),
    )
