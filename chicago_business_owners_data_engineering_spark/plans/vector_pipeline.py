"""Staged vector pipeline: cluster → semantic dedup → PQ index → serve.

The embedding-side twin of the curation pipeline
(plans/curation_pipeline.py): where that one turns raw documents into a
training corpus, this one turns raw embeddings into a servable
similarity index, composing the round-3 clustering/ANN operators:

1. CLUSTER   — two Lloyd rounds of k-means (operators/clustering.py);
               the cluster map doubles as the dedup blocking function
               and the IVF-style routing table.
2. DEDUP     — SemDeDup-shaped semantic dedup: multi-probe within-cell
               cosine pairs → components → min-vec_id survivor. Only
               survivors are indexed (duplicate vectors waste index
               space and skew retrieval).
3. ENCODE    — PQ-encode survivors (operators/similarity.py sim09
               machinery): 8 subspace codes against a deterministic
               codebook; the stored index is (vec_id, label, cluster,
               code0..7) — ~64× smaller than raw floats.
4. SERVE     — top-k queries run as ADC lookup-table scans over the
               stored index, then exact re-rank of the short candidate
               list against the raw vectors of just those candidates.

At scale each stage is one write: the index parquet is partitioned by
cluster, so a query that routes to nprobe cells prunes the scan to
nprobe/k of the index files (partition pruning on the cluster column).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import Pins, load_table, spread_scan
from ..operators.clustering import (
    kmeans_assignments,
    lloyd_centroids,
    semantic_dedup_components,
)
from ..operators.similarity import (
    PQ_M,
    PQ_RERANK,
    lit_matrix,
    pq_adc_score,
    pq_code_col,
    pq_codebook,
    pq_exact_l2,
    sq_l2_py,
)


def build_vector_index(spark: SparkSession, sf_dir: str, out_dir: str) -> dict:
    """Stages 1-3: cluster, dedup, PQ-encode, write the index. Returns
    the build card (counts per stage + codebook)."""
    # ONE Lloyd trajectory for the whole build (r11): the cluster map
    # and the semantic-dedup blocking share identical centroids by
    # definition, but the r10 shape computed the init + recompute
    # driver jobs twice (once inside kmeans_assignments, once inside
    # ml03's kmeans_probes). Sharing the list is pure recompute
    # elimination within this run — both stages see bit-identical
    # centroids, so every downstream decision is unchanged.
    cents = lloyd_centroids(spark, sf_dir)
    emb = kmeans_assignments(spark, sf_dir, centroids=cents)
    n_raw = emb.count()

    with Pins() as pin:
        # one dedup pass, pinned: the component loop is the expensive
        # part and feeds both the drop list and the card's component
        # count. semantic_dedup_components at default knobs IS
        # ml03_semantic_dedup (the registry wrapper calls it verbatim),
        # plus the shared cents.
        dedup = pin(semantic_dedup_components(spark, sf_dir, centroids=cents))
        dropped = dedup.filter(~F.col("keep")).select("vec_id")
        # Both card counts from ONE job over the fresh pin (keep=True →
        # component survivors, keep=False → drops); survivors = raw
        # minus drops — every dropped vec_id exists in emb (components
        # only contain embedding vec_ids) — so keep.count()'s second
        # assignment scan + anti-join disappears (the index write below
        # is keep's only consumer now).
        by_keep = {
            r["keep"]: r["n"]
            for r in dedup.groupBy("keep").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        n_components = by_keep.get(True, 0)
        keep = emb.join(dropped, "vec_id", "left_anti")
        n_kept = n_raw - by_keep.get(False, 0)

        codebook = pq_codebook(spread_scan(load_table(spark, sf_dir, "embeddings")))

        labels = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
        index = keep.join(labels, "vec_id").select(
            "vec_id",
            "label",
            "cluster",
            *[pq_code_col(codebook, m).alias(f"code{m}") for m in range(PQ_M)],
        )
        (
            index.repartition("cluster")
            .write.mode("overwrite")
            .partitionBy("cluster")
            .parquet(os.path.join(out_dir, "pq_index"))
        )
        n_indexed = spark.read.parquet(os.path.join(out_dir, "pq_index")).count()
    return {
        "raw_vectors": n_raw,
        "survivors": n_kept,
        "indexed": n_indexed,
        "semantic_dropped": n_raw - n_kept,
        "codebook": codebook,
        "n_components": n_components,
    }


def query_vector_index(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    codebook: list[list[list[float]]],
    query_vec: list[float],
    top_k: int = 10,
) -> DataFrame:
    """Stage 4: ADC scan over the stored index + exact re-rank.

    The scan touches only (vec_id, code0..7) columns of the index
    parquet; raw vectors are read ONLY for the RERANK candidates via a
    broadcast semi join — at 100 TB that is the difference between
    scanning the corpus and scanning a lookup table.
    """
    index = spark.read.parquet(os.path.join(out_dir, "pq_index"))
    cand = (
        index.select("vec_id", "label", pq_adc_score(codebook, query_vec).alias("ad"))
        .orderBy("ad", "vec_id")
        .limit(PQ_RERANK)
    )
    raw = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    return (
        cand.join(raw, "vec_id")
        .select("vec_id", "label", pq_exact_l2(query_vec).alias("l2_dist"))
        .orderBy("l2_dist", "vec_id")
        .limit(top_k)
    )


def foreach_batch_index_append(
    out_dir: str,
    codebook: list[list[list[float]]],
    threshold_sq: float = 0.15,
    fault=None,
):
    """Streaming stage 5: online index maintenance with SDC dedup.

    New embedding batches are PQ-encoded and appended to the stored
    index — UNLESS an already-indexed vector is within ``threshold_sq``
    (squared L2) by symmetric distance computation (SDC): the distance
    between two PQ codes is Σ_m table[m][c_a][c_b], where the 16×16
    per-subspace tables are precomputed from the codebook alone. The
    dedup check therefore reads ONLY the stored codes — never raw
    vectors — which is what makes online dedup affordable at index
    scale (the same reason serve-time scans use ADC). The default
    threshold sits between quantization-identical duplicates (SDC = 0)
    and this corpus's closest distinct pair (measured SDC 0.308;
    5th-percentile nearest-other 0.45) — recalibrate per corpus.

    Exactly-once under replay through the streaming sinks' epoch ledger
    (``streaming.jobs.exactly_once_sink`` over an ``EpochLedger`` at
    ``out_dir/_append_ledger``): appends are not idempotent, so an
    epoch the ledger holds is skipped, and a replay after an append
    whose commit was lost is absorbed by the SDC dedup below.
    """
    from ..streaming.jobs import exactly_once_sink

    # sdc[m][ca][cb] = squared L2 between codebook entries, mirroring
    # the engine's (sqrt(Σ))² arithmetic
    sdc = [
        [[sq_l2_py(ca, cb) for cb in codebook[m]] for ca in codebook[m]]
        for m in range(PQ_M)
    ]

    codes_schema = ", ".join(f"code{m} int" for m in range(PQ_M))

    def plan(batch_df: DataFrame, epoch_id: int, ledger):
        spark = batch_df.sparkSession
        new = batch_df.select(
            "vec_id",
            "label",
            F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        ).select(
            "vec_id",
            "label",
            *[pq_code_col(codebook, m).alias(f"code{m}") for m in range(PQ_M)],
        )
        index_path = os.path.join(out_dir, "pq_index")
        # Existence check, NOT try/except (the near-dup sink's recipe):
        # an index read error must FAIL the batch, because treating it
        # as "no index" would admit duplicates without the SDC check.
        # The explicit schema makes a torn first append (a directory
        # holding no committed files) read as an empty index instead of
        # failing schema inference.
        if ledger.exists(index_path):
            existing = (
                spark.read.schema(codes_schema)
                .parquet(index_path)
                .select(*[F.col(f"code{m}").alias(f"e{m}") for m in range(PQ_M)])
            )
            # SDC distance new×existing via the precomputed tables —
            # 3D literal indexed per subspace, summed in fixed order.
            dist = None
            for m in range(PQ_M):
                term = F.element_at(
                    F.element_at(lit_matrix(sdc[m]), F.col(f"code{m}") + 1),
                    F.col(f"e{m}") + 1,
                )
                dist = term if dist is None else dist + term
            dups = (
                new.crossJoin(F.broadcast(existing))
                .filter(dist < F.lit(threshold_sq))
                .select("vec_id")
                .distinct()
            )
            novel = new.join(dups, "vec_id", "left_anti")
        else:
            novel = new
        # cluster column for partition parity with the batch-built index:
        # nearest codebook-0 entry is NOT the cluster map, so streaming
        # appends land under cluster=-1 partitions (segregated segment,
        # compacted into proper cells by the next rebuild — the standard
        # fresh-segment design of online ANN indexes).
        def append() -> None:
            novel.withColumn("cluster", F.lit(-1)).write.mode(
                "append"
            ).partitionBy("cluster").parquet(index_path)

        return [("post_append_write", append)], []

    return exactly_once_sink(out_dir, plan, fault, ledger="_append_ledger")
