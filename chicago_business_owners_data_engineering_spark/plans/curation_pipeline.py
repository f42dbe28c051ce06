"""Staged training-data curation pipeline — the §2.11 flagship.

Composes the beyond-reference curation operators into the multi-stage
job a 100 TB pretraining corpus actually runs, end to end:

    1 gate     quality filters: Gopher repetition signals + length
               floor (tx07's fractions as predicates)
    1b model   classifier gate: fastText-shaped score (ml05 machinery)
               with a LOW bar — drop the clearly-bad tail, not half
               the corpus (heuristics first, model second: the model
               never sees what the cheap gates already killed)
    2 dedup    exact dedup (first copy per text hash), then near-dup
               canonical selection (keep the longest doc per connected
               component — dd06/dd07 machinery), then containment
               dedup (dd13): drop docs ≥70 % swallowed by a LARGER
               survivor — the asymmetric pairs Jaccard can't see
    3 mix      deterministic per-source mixture downsampling (tp08)
    4 split    hash-based train/valid/test assignment (tp01)
    5 shard    byte-budget shard manifest per (split, source) (mm05)
    6 card     dataset card: one JSON-able summary row per stage with
               docs in/out — the datasheet that ships with the corpus

Every stage is a lazy DataFrame lineage; the only materialization
points are the curated-corpus write (partitioned by split/source) and
the card. Stage order matters and is load-bearing: dedup runs BEFORE
mixture sampling so duplicates can't vote themselves into the mixture,
and splits are assigned AFTER dedup so near-identical docs can't
straddle train/eval (the contamination vector tp07 checks for).

Scale notes: the gate + hash stages are shuffle-free projections; exact
dedup is one hash-key shuffle with map-side partials; the near-dup edge
generation runs dd04's MinHash-LSH (banded candidates + exact verify,
no cross join) over the surviving docs, with the brute-force exact
Jaccard twin selectable for recall audits — identical downstream
contract: a (doc_id, component) relation; shard manifests reuse the
per-source prefix-sum shape.  The curated write repartitions on the partition
columns first (the PERF.md small-files rule).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import Pins, load_table
from ..functions.sampling import md5_bucket, mixture_weight, split_label
from ..functions.text import repetition_stats
from ..operators.dedup import _shingle_set, neardup_edges
from ..operators.graph import components_large_small_star
from ..operators.multimodal import SHARD_BUDGET_BYTES, shard_id_over

# Gate thresholds live in shared_oracles (import-pure) so
# plans/pipeline_report.py can cite them in its oracle SQL without
# importing this module at decoration time.
from ..operators.shared_oracles import (  # noqa: E402
    CURATION_MAX_DUP_TOKEN_FRAC as MAX_DUP_TOKEN_FRAC,
    CURATION_MAX_TOP_TOKEN_FRAC as MAX_TOP_TOKEN_FRAC,
    CURATION_MIN_TOKENS as MIN_TOKENS,
)

# Model-gate floor: a LOW bar relative to ml05's demo decision point
# (50M ≈ the corpus median) — the pipeline's job is removing the
# clearly-bad tail (~p05 of the fixture distribution), not halving the
# corpus on a coin-flip score.
from ..operators.shared_oracles import (  # noqa: E402
    CURATION_FT_MIN_MICRO as FT_PIPELINE_MIN_MICRO,
)
# Containment-dedup threshold as a rational (integer cross-multiplied
# comparisons — see containment_join_prefix).
CONTAIN_T_NUM, CONTAIN_T_DEN = 7, 10


def gate_quality(documents: DataFrame) -> DataFrame:
    """Stage 1: repetition + length gates as ONE scan's worth of flags
    (tx07's statistics)."""
    return (
        documents.join(repetition_stats(documents), "doc_id", "left")
        .filter(
            (F.col("n_tokens") >= MIN_TOKENS)
            & (F.col("dup_token_frac") <= MAX_DUP_TOKEN_FRAC)
            & (F.col("top_token_frac") <= MAX_TOP_TOKEN_FRAC)
        )
        .drop("dup_token_frac", "top_token_frac")
    )


def gate_model(docs: DataFrame) -> DataFrame:
    """Stage 1b: classifier gate — ml05's broadcast-join scorer with the
    pipeline's low-bar floor. Runs AFTER the heuristic gate so the
    model never scores what repetition/length already killed (the cheap
    filters are ~free; the explode+join here is the priciest pre-dedup
    pass)."""
    from ..operators.clustering import fasttext_scores

    passing = fasttext_scores(docs.select("doc_id", "text")).filter(
        F.col("score_micro") >= FT_PIPELINE_MIN_MICRO
    )
    return docs.join(passing.select("doc_id"), "doc_id", "left_semi")


def dedup_exact(docs: DataFrame) -> DataFrame:
    """Stage 2a: one survivor per exact text (min doc_id), one shuffle.

    Groups on (xxhash64(text), length(text)) rather than the hash
    alone: at billions of documents a bare 64-bit hash hits birthday
    collisions in expectation (~4.3e9 docs), and a collision here
    silently DELETES a distinct document. The length component makes a
    false merge require a same-length hash collision; pipelines that
    can't tolerate even that residual risk confirm with a text-equality
    join on the collided groups (cheap — only groups with >1 doc).
    """
    survivor = (
        docs.groupBy(
            F.xxhash64("text").alias("h"), F.length("text").alias("len")
        )
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    return docs.join(survivor, "doc_id", "left_semi")


def dedup_near(docs: DataFrame) -> DataFrame:
    """Stage 2b: drop non-canonical members of near-dup clusters.

    Canonical = longest doc (ties → min doc_id) per connected
    component, exactly dd07's rule; docs outside any component pass
    through untouched. The similarity graph is computed over the
    SURVIVORS this stage receives — not the raw table — so a
    gated-out or exact-deduped document can never bridge two
    otherwise-separate clusters and over-drop survivors. Edges come
    from MinHash-LSH (the 100 TB path, no cross join).
    """
    shingled = docs.select("doc_id", _shingle_set(F.col("text")).alias("ws"))
    comp = components_large_small_star(neardup_edges(shingled, "ws", threshold=0.5))
    members = comp.join(docs.select("doc_id", "n_chars"), "doc_id")
    canonical = members.groupBy("component").agg(
        F.max_by(
            "doc_id", F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("neg"))
        ).alias("doc_id")
    )
    drops = members.join(canonical.select("doc_id"), "doc_id", "left_anti").select(
        "doc_id"
    )
    return docs.join(drops, "doc_id", "left_anti")


def dedup_containment(docs: DataFrame) -> DataFrame:
    """Stage 2c: drop docs ≥70 % contained in a LARGER surviving doc.

    The near-dup stage (J ≥ 0.5) cannot see a short doc swallowed by a
    much longer one — the union denominator hides it — so the exact
    containment join (dd13 machinery) sweeps those after cluster
    dedup, when the survivor set is already smallest. Survivorship is
    deterministic and cycle-free: doc_a drops only when its container
    has MORE shingles (ties → smaller doc_id), so the maximal-size
    min-id member of any containment cluster always survives and
    mutual containment keeps exactly one member. Greedy semantics on
    chains, deliberately: in a ⊂ b ⊂ c both a and b drop even though
    a's direct container dropped too — the redundancy judgment is
    against the PRE-sweep corpus (a was mostly-covered somewhere),
    which is the standard one-pass containment sweep; a coverage-exact
    variant would need the component machinery dd07 already provides
    for the symmetric case.
    """
    from ..operators.dedup import containment_join_prefix

    shingled = docs.select("doc_id", _shingle_set(F.col("text")).alias("ws"))
    sizes = shingled.select("doc_id", F.size("ws").alias("sz"))
    pairs = containment_join_prefix(
        shingled, t_num=CONTAIN_T_NUM, t_den=CONTAIN_T_DEN
    )
    drops = (
        pairs.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b")), "doc_b")
        .filter(
            (F.col("sz_b") > F.col("sz_a"))
            | ((F.col("sz_b") == F.col("sz_a")) & (F.col("doc_b") < F.col("doc_a")))
        )
        .select(F.col("doc_a").alias("doc_id"))
        .distinct()
    )
    return docs.join(drops, "doc_id", "left_anti")


def sample_mixture(docs: DataFrame) -> DataFrame:
    """Stage 3: per-source hash-deterministic downsampling (tp08)."""
    return docs.filter(md5_bucket(F.col("doc_id")) < mixture_weight())


def assign_splits(docs: DataFrame) -> DataFrame:
    """Stage 4: stable 80/10/10 split by key hash (tp01)."""
    bucket = md5_bucket(F.concat(F.lit("split:"), F.col("doc_id")))
    return docs.withColumn("split", split_label(bucket))


def assign_shards(docs: DataFrame) -> DataFrame:
    """Stage 5: byte-budget shard ids per (split, source) — mm05's rule,
    imported, not re-implemented."""
    return docs.withColumn("shard_id", shard_id_over(("split", "source")))


def run_curation_pipeline(
    spark: SparkSession, sf_dir: str, out_dir: str
) -> DataFrame:
    """Run all six stages; write the curated corpus + card; return the card.

    The card is the per-stage funnel (docs surviving each stage) — the
    dataset datasheet. Assertable invariants the test pins: no
    duplicate texts survive, every doc carries exactly one split, and
    shard byte sums stay under budget + one max-doc overhang.
    """
    documents = load_table(spark, sf_dir, "documents")
    # Pinned stage outputs: the curated write and the card's per-stage
    # counts all read them, so each pinned stage runs once (gate, a full
    # token explode, is the heaviest pre-dedup scan). The pins are
    # released when the block exits, also on an exception.
    with Pins() as pin:
        gated = pin(gate_quality(documents))
        modeled = pin(gate_model(gated))
        exact = dedup_exact(modeled)
        near = pin(dedup_near(exact))
        contained = pin(dedup_containment(near))
        mixed = sample_mixture(contained)
        split = assign_splits(mixed)
        sharded = pin(assign_shards(split))

        (
            sharded.repartition("split", "source")
            .write.mode("overwrite")
            .partitionBy("split", "source")
            .parquet(os.path.join(out_dir, "curated"))
        )

        def n(df: DataFrame) -> int:
            return df.count()

        card_rows = [
            ("0_raw", n(documents)),
            ("1_gated", n(gated)),
            ("2_model_gate", n(modeled)),
            ("3_exact_dedup", n(exact)),
            ("4_near_dedup", n(near)),
            ("5_containment", n(contained)),
            ("6_mixture", n(mixed)),
            ("7_final", n(sharded)),
        ]
    card = spark.createDataFrame(card_rows, "stage string, docs long")
    card.coalesce(1).write.mode("overwrite").json(os.path.join(out_dir, "card"))
    return card
