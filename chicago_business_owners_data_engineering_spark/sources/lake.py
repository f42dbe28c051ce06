"""Partitioned data-lake layout (SURVEY.md §2.1 S3–S9).

Re-expresses the reference's DataLakeStorageManager
(cbddl/src/data_lake/storage_manager.py) on Spark's native partitioned
parquet:

- layout ``{root}/{layer}/{name}/date=YYYYMMDD/...`` (:63,81,99,117)
  → ``df.write.partitionBy("date")`` — Hive-style, discovered natively;
- snappy parquet (:136,153) → Spark's default codec;
- S3 writes via s3fs/pyarrow (:140-158) → the same ``s3a://`` URI in
  ``root``, no separate code path;
- partition listing / latest-partition (:220-244) → filesystem listing
  via the JVM Hadoop FS API (works for file://, hdfs://, s3a:// alike);
- retention cleanup (:246-265) → partition-directory deletes by date
  key, a metadata/filesystem operation — never a data rewrite.

At scale, writers control file sizing with a pre-write
``repartition(n, key)`` so each partition directory gets a bounded
number of near-maxPartitionBytes files rather than one file per task.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

LAYERS = ("raw", "processed", "analytics", "aggregated")
DATE_COL = "date"


@dataclass
class LakeStorage:
    """``fmt`` selects the columnar file format for the whole lake:
    ``parquet`` (default) or ``orc`` — both are native Spark sources
    with identical partition-discovery, pruning, predicate-pushdown and
    dynamic-overwrite semantics, so every method below is
    format-agnostic (S3/S4 generalized; the reference is parquet-only,
    storage_manager.py:136-158)."""

    root: str
    fmt: str = "parquet"

    def __post_init__(self) -> None:
        if self.fmt not in ("parquet", "orc"):
            raise ValueError(f"unsupported lake format {self.fmt!r}")

    def _path(self, layer: str, name: str) -> str:
        if layer not in LAYERS:
            raise ValueError(f"unknown layer {layer!r}; expected one of {LAYERS}")
        return f"{self.root}/{layer}/{name}"

    # -- writes ------------------------------------------------------------

    def write(
        self,
        df: DataFrame,
        layer: str,
        name: str,
        date_key: str | None = None,
        mode: str = "overwrite",
        files_per_partition: int | None = None,
    ) -> str:
        """Write a dated partition (S7). ``date_key`` defaults to a
        ``date`` column already present; passing one stamps a constant
        (the ingestion-date pattern of the reference, storage_manager.py:60).
        """
        out = df
        if date_key is not None:
            out = out.withColumn(DATE_COL, F.lit(date_key))
        if DATE_COL not in out.columns:
            raise ValueError("dataframe needs a 'date' column or an explicit date_key")
        if files_per_partition == 1:
            # every date's rows co-locate on one task → one file per date
            out = out.repartition(DATE_COL)
        elif files_per_partition:
            # repartition(n, DATE_COL) alone can NEVER fan a date out —
            # the hash of a constant lands every row of a date on one
            # task (measured: always 1 file). A deterministic content
            # salt splits each date into ≤ files_per_partition groups
            # that the shuffle spreads across tasks.
            salt = F.pmod(
                F.xxhash64(F.struct(*[F.col(c) for c in out.columns])),
                F.lit(files_per_partition),
            )
            # explicit numPartitions: AQE leaves user-specified counts
            # alone (it would otherwise coalesce a small shuffle back
            # to one task and undo the fan-out)
            n_dates = out.select(DATE_COL).distinct().count()
            out = (
                out.withColumn("_fsalt", salt)
                .repartition(n_dates * files_per_partition, DATE_COL, "_fsalt")
                .drop("_fsalt")
            )
        path = self._path(layer, name)
        out.write.mode(mode).option("partitionOverwriteMode", "dynamic").partitionBy(
            DATE_COL
        ).format(self.fmt).save(path)
        return path

    def write_json(self, df: DataFrame, layer: str, name: str, date_key: str) -> str:
        """JSON report write (S6, storage_manager.py:160-185)."""
        path = f"{self._path(layer, name)}/{DATE_COL}={date_key}"
        df.coalesce(1).write.mode("overwrite").json(path)
        return path

    # -- reads -------------------------------------------------------------

    def read(self, spark: SparkSession, layer: str, name: str) -> DataFrame:
        """Read all partitions; the date column comes back via partition
        discovery (S4/S8) and filters on it prune directories."""
        return spark.read.format(self.fmt).load(self._path(layer, name))

    def read_partition(
        self, spark: SparkSession, layer: str, name: str, date_key: str
    ) -> DataFrame:
        # Filter (not path-append) so partition pruning is visible in the
        # plan and schema stays identical to full reads.
        return self.read(spark, layer, name).filter(F.col(DATE_COL) == date_key)

    def read_latest(self, spark: SparkSession, layer: str, name: str) -> DataFrame:
        """Latest-partition read (S8, storage_manager.py:231-244)."""
        latest = self.latest_partition(spark, layer, name)
        if latest is None:
            raise FileNotFoundError(f"no partitions under {self._path(layer, name)}")
        return self.read_partition(spark, layer, name, latest)

    # -- partition metadata ------------------------------------------------

    def list_partitions(self, spark: SparkSession, layer: str, name: str) -> list[str]:
        """Partition listing (S8) via the Hadoop FS API — no data scan."""
        return sorted(_keyed_dirs(spark, self._path(layer, name), DATE_COL))

    def latest_partition(self, spark: SparkSession, layer: str, name: str) -> str | None:
        parts = self.list_partitions(spark, layer, name)
        return parts[-1] if parts else None

    def compact(
        self,
        spark: SparkSession,
        layer: str,
        name: str,
        date_key: str | None = None,
        target_files: int = 1,
    ) -> dict[str, int]:
        """Rewrite partitions down to ``target_files`` files each; see
        ``lake_compact`` below for semantics and crash behavior."""
        return lake_compact(self, spark, layer, name, date_key, target_files)

    def expire_partitions(
        self, spark: SparkSession, layer: str, name: str, keep_after: str
    ) -> list[str]:
        """Retention (S9, storage_manager.py:246-265): drop partitions
        with date_key < keep_after. Pure directory deletes — O(partitions),
        independent of data volume."""
        removed = []
        for key in self.list_partitions(spark, layer, name):
            if key < keep_after:
                fs, p = _fs(spark, f"{self._path(layer, name)}/{DATE_COL}={key}")
                fs.delete(p, True)
                removed.append(key)
        return removed


def write_bucketed(
    df, name: str, bucket_col: str, n_buckets: int, warehouse_db: str = "default",
    sort_col: str | None = None,
) -> None:
    """Persist a table bucketed (and optionally sorted) by a join key.

    The co-located-join lever at 100 TB: two tables bucketed the same
    way on the same key join WITHOUT any Exchange — Spark trusts the
    bucket layout and runs a zip-like per-bucket join; sorted buckets
    also drop the Sort. The cost is paid once at write time (one
    shuffle into n_buckets files per partition). Spark buckets are
    hash(pmod)-compatible across writes, so incremental appends keep
    the property. Requires ``saveAsTable`` (the metastore records the
    bucket spec; plain parquet paths can't).
    """
    writer = df.write.mode("overwrite").bucketBy(n_buckets, bucket_col)
    if sort_col:
        writer = writer.sortBy(sort_col)
    writer.format("parquet").saveAsTable(f"{warehouse_db}.{name}")


def zorder_key(df: DataFrame, cols: list[str], bits: int = 8) -> "F.Column":
    """Interleaved-bit (Morton) clustering key over ``cols``.

    Each column is quantized to ``2**bits`` uniform buckets between its
    observed min and max (``width_bucket`` — JVM expression, one tiny
    driver-side agg for the bounds), then the bucket bits are
    interleaved: output bit ``i*k + j`` is bit ``i`` of column ``j``'s
    bucket. Rows close in z-key are close in EVERY clustered dimension,
    so range-partitioning files by z-key gives each file a tight
    min/max envelope on all the clustered columns at once — the
    multi-dimensional generalization of sorting by one column, and the
    same layout trick behind Delta OPTIMIZE ZORDER. Quantization is
    uniform here; swap the bounds for approxQuantile fences when a
    dimension is heavily skewed.
    """
    nb = 2**bits
    bounds = df.agg(
        *[F.min(c).alias(f"min_{c}") for c in cols],
        *[F.max(c).alias(f"max_{c}") for c in cols],
    ).first()
    buckets = []
    for c in cols:
        lo, hi = bounds[f"min_{c}"], bounds[f"max_{c}"]
        if lo is None or hi is None or lo == hi:
            buckets.append(F.lit(0).cast("long"))
        else:
            b = F.width_bucket(F.col(c).cast("double"), F.lit(float(lo)), F.lit(float(hi)), F.lit(nb)) - 1
            buckets.append(F.least(F.greatest(b, F.lit(0)), F.lit(nb - 1)).cast("long"))
    k = len(cols)
    z = F.lit(0).cast("long")
    for i in range(bits):
        for j, b in enumerate(buckets):
            z = z + F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), i * k + j)
    return z


def write_clustered(
    df: DataFrame, path: str, cols: list[str], n_files: int = 16, bits: int = 8
) -> None:
    """Write ``df`` as ``n_files`` parquet files clustered on ``cols``.

    ``repartitionByRange`` on the z-key assigns each file a contiguous
    z-range (range partitioning samples the key distribution, so files
    are near-equal-sized even when the key space is sparse); the
    within-file sort tightens row-group envelopes too. Readers then
    prune files/row groups via parquet min/max stats on ANY clustered
    column — pushdown needs no awareness that the layout is z-ordered.
    The write costs one extra shuffle; at 100 TB it is paid once per
    compaction window, amortized over every selective read after.
    """
    z = zorder_key(df, cols, bits=bits)
    (
        df.withColumn("_zkey", z)
        .repartitionByRange(n_files, "_zkey")
        .sortWithinPartitions("_zkey")
        .drop("_zkey")
        .write.mode("overwrite")
        .parquet(path)
    )


def _fs(spark: SparkSession, path: str):
    """``(FileSystem, Path)`` for ``path`` through the Hadoop FS API, so
    one call resolves file://, hdfs://, s3a:// and plain paths alike."""
    p = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()), p


def _keyed_dirs(spark: SparkSession, path: str, key: str) -> list[str]:
    """The values ``v`` of the ``key=v`` subdirectories of ``path``
    (none when ``path`` is absent), unsorted."""
    fs, p = _fs(spark, path)
    if not fs.exists(p):
        return []
    names = [st.getPath().getName() for st in fs.listStatus(p) if st.isDirectory()]
    return [n.split("=", 1)[1] for n in names if n.startswith(f"{key}=")]


def _compact_partition(
    lake: "LakeStorage", spark: SparkSession, layer: str, name: str,
    date_key: str, target_files: int,
) -> int:
    part_path = f"{lake._path(layer, name)}/{DATE_COL}={date_key}"
    tmp_path = f"{lake._path(layer, name)}/.compact-{date_key}.tmp"
    df = spark.read.format(lake.fmt).load(part_path)
    df.repartition(target_files).write.mode("overwrite").format(lake.fmt).save(tmp_path)
    fs, part_p = _fs(spark, part_path)
    _, tmp_p = _fs(spark, tmp_path)
    fs.delete(part_p, True)
    fs.rename(tmp_p, part_p)
    n = 0
    for status in fs.listStatus(part_p):
        if status.getPath().getName().startswith("part-"):
            n += 1
    return n


def lake_compact(
    lake: "LakeStorage", spark: SparkSession, layer: str, name: str,
    date_key: str | None = None, target_files: int = 1,
) -> dict[str, int]:
    """Small-files compaction (the OPTIMIZE of plain-parquet lakes).

    Streaming appends, per-trigger micro-batch writes, and
    over-parallel writers all accrete small files; scan cost then
    scales with FILE COUNT, not bytes (footer reads + task scheduling
    dominate — the same pathology the 313 s → 34 s pipeline fix
    removed at write time, handled here for tables that accrete after
    the fact). Each partition is rewritten to ``target_files`` files
    via a tmp-dir write + directory swap, so a crash mid-compaction
    leaves either the old or the new layout, never a mix; readers see
    identical rows before and after. Compact one ``date_key`` (the
    streaming hot partition) or sweep all. Size ``target_files`` ≈
    partition_bytes / maxPartitionBytes so one file ≈ one scan task.
    """
    keys = [date_key] if date_key else lake.list_partitions(spark, layer, name)
    return {
        k: _compact_partition(lake, spark, layer, name, k, target_files) for k in keys
    }
