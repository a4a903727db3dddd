"""Partition compaction — the small-files maintenance operator.

Incremental ingestion (streaming/ingest.py) appends a few files per
micro-batch; after thousands of batches a date partition holds thousands
of tiny parquet files, and every downstream scan pays per-file open cost
(the classic small-files problem — at 100 TB it is the difference between
a scan bounded by IO and one bounded by NameNode/S3 LIST round-trips).

``compact_partitions`` rewrites chosen date partitions into
~``target_file_bytes`` files each, committing through the same staged
per-partition swap as the upsert sink (operators/layout.py), so readers
never observe a half-written partition and a crash mid-compact leaves at
most one partition to re-compact. Contents are byte-identical rows — the
operator never interprets payload columns, so it is safe to run
concurrently with reads (snapshot isolation via the staging write).
"""

from __future__ import annotations

import math
from datetime import date

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestion_lambda_spark.operators.layout import (
    PARTITION_COL,
    finish_swaps,
    hadoop_fs,
    partition_values,
    replace_partitions,
)

DEFAULT_TARGET_FILE_BYTES = 128 << 20  # parquet row-group sweet spot


def expire_partitions(
    spark: SparkSession,
    target_dir: str,
    keep_from: str,
) -> list[str]:
    """Retention: drop whole date partitions older than ``keep_from``
    (ISO date string) — the operational form of the reference's 30-day
    cutoff (F7, src/s3_processor.py:27). Partition-level deletes touch no
    data files inside surviving dates; they go through the staged swap
    with nothing staged (one marker and one delete per expired
    partition), so a delete that fails raises instead of reporting the
    date as expired. Returns the expired dates.

    ``keep_from`` is validated and normalized to zero-padded ISO form
    before the lexicographic compare — this is a destructive path, and an
    unpadded human-typed cutoff ('2025-5-2') would otherwise compare
    wrongly against zero-padded partition names and mass-delete months it
    should keep."""
    keep_from = date.fromisoformat(keep_from).isoformat()
    finish_swaps(spark, target_dir)
    expired = [d for d in partition_values(spark, target_dir, PARTITION_COL) if d < keep_from]
    if expired:
        replace_partitions(spark, target_dir, None, expired)
    return expired


def compact_partitions(
    spark: SparkSession,
    target_dir: str,
    dates: list[str] | None = None,
    target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES,
) -> dict[str, int]:
    """Rewrite each date partition into ``ceil(bytes/target_file_bytes)``
    files. Returns {date: actual_output_file_count}. Partitions already at
    or below one target-file of data compact to exactly one file."""
    finish_swaps(spark, target_dir)
    fs, path_cls = hadoop_fs(spark, target_dir)
    if dates is None:
        dates = partition_values(spark, target_dir, PARTITION_COL)

    result: dict[str, int] = {}
    for d in dates:
        part_path = f"{target_dir}/{PARTITION_COL}={d}"
        if not fs.exists(path_cls(part_path)):
            continue
        size = fs.getContentSummary(path_cls(part_path)).getLength()
        n_files = max(1, math.ceil(size / target_file_bytes))
        # basePath keeps the partition column in the frame so the staged
        # swap's partitionBy round-trips it. repartition, not coalesce:
        # coalesce can only REDUCE partition count, so a target below the
        # scan's split size could never split a partition into more files.
        df = (
            spark.read.option("basePath", target_dir)
            .parquet(part_path)
            .repartition(n_files)
        )
        replace_partitions(spark, target_dir, df, [d])
        # Report the real file count post-swap, not the requested one.
        result[d] = sum(
            1
            for s in fs.listStatus(path_cls(part_path))
            if s.getPath().getName().endswith(".parquet")
        )
    return result


def _zorder_expr(cols: list[str], bounds: dict[str, tuple[float, float]]) -> Column:
    """Morton (Z-curve) interleave of 2+ numeric columns, for
    ``cluster_partitions(..., zorder=True)``.

    Each column is quantized to an equi-width integer bucket between its
    partition (min, max) — passed in from a bounded 1-row collect per
    partition; NULLs bucket to 0 so they cluster together at the curve
    origin — then the bucket bits are interleaved LSB-first: bit b of
    column i lands at position b·n_cols + i. Sorting by the resulting
    value orders rows along the space-filling curve, so every output file
    covers a small HYPER-RECTANGLE of the value space and parquet min/max
    statistics prune on EVERY clustered column — the property
    single-column clustering cannot give (sorting on x makes each file's
    y range span the whole domain; the curve bounds both).

    Bits per dimension: 30 // n_cols (15 each for the 2-column common
    case — 32k buckets per dim, far finer than any row-group count), so
    the z-value always fits comfortably in a BIGINT. The whole expression
    is integer Column arithmetic — codegen, no UDF."""
    n = len(cols)
    bits = 30 // n
    top = (1 << bits) - 1
    terms = []
    for i, c in enumerate(cols):
        lo, hi = bounds[c]
        # all-NULL column (bounds None) or constant column: one bucket
        span = (hi - lo) if lo is not None and hi is not None else 0.0
        if span <= 0:
            bucket = F.lit(0).cast("long")
        else:
            x = F.coalesce(F.col(c).cast("double"), F.lit(float(lo)))
            bucket = F.least(
                F.lit(top).cast("long"),
                F.greatest(
                    F.lit(0).cast("long"),
                    F.floor((x - F.lit(float(lo))) * F.lit(float(top) / span)).cast(
                        "long"
                    ),
                ),
            )
        for b in range(bits):
            terms.append(
                F.shiftleft(
                    F.shiftright(bucket, b).bitwiseAND(F.lit(1)), b * n + i
                ).cast("long")
            )
    z = terms[0]
    for t in terms[1:]:
        z = z + t
    return z


def cluster_partitions(
    spark: SparkSession,
    target_dir: str,
    sort_cols: list[str],
    dates: list[str] | None = None,
    target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES,
    zorder: bool = False,
) -> dict[str, int]:
    """Compaction + layout clustering: rewrite each date partition
    range-partitioned AND sorted on ``sort_cols``, so every output file
    (and every parquet row group inside it) covers a tight, near-disjoint
    value range of the cluster keys. Parquet stores per-row-group min/max
    statistics; a range or point predicate on a clustered column then
    skips whole files/row groups at planning and read time instead of
    scanning them — at 100 TB, clustering by the dominant filter column
    is the difference between touching ~1/N of the data and all of it
    (the same layout idea as Delta OPTIMIZE ZORDER or Hive sort-bucketing
    one level down from the date partitioning; single-column clustering
    covers the common case without interleaving curves).

    ``repartitionByRange`` samples the keys to build balanced range
    bounds (skew-tolerant: a hot key spills into adjacent ranges rather
    than one oversized file); ``sortWithinPartitions`` then orders rows
    inside each file so row groups inherit tight bounds too. Rows are
    preserved exactly — this reorders, never rewrites values — and the
    commit goes through the same staged per-partition swap as compaction,
    so readers never see a half-clustered partition. Returns
    {date: output_file_count}.

    ``zorder=True`` clusters along the Morton curve of ALL ``sort_cols``
    (>= 2 numeric columns) instead of lexicographically: see
    ``_zorder_expr``. Lexicographic sort prunes only the leading column
    (each file's range for the second column spans everything);
    Z-ordering trades a little leading-column tightness for bounded
    ranges on EVERY clustered column — the right layout when two
    independent filter columns matter (the Delta OPTIMIZE ZORDER idea,
    implemented here as plain column arithmetic + the same staged swap)."""
    finish_swaps(spark, target_dir)
    fs, path_cls = hadoop_fs(spark, target_dir)
    if dates is None:
        dates = partition_values(spark, target_dir, PARTITION_COL)

    result: dict[str, int] = {}
    for d in dates:
        part_path = f"{target_dir}/{PARTITION_COL}={d}"
        if not fs.exists(path_cls(part_path)):
            continue
        size = fs.getContentSummary(path_cls(part_path)).getLength()
        n_files = max(1, math.ceil(size / target_file_bytes))
        df = spark.read.option("basePath", target_dir).parquet(part_path)
        if zorder:
            if len(sort_cols) < 2:
                raise ValueError("zorder needs >= 2 columns; use plain sort for one")
            # bounded 1-row collect: per-column (min, max) of THIS partition
            row = df.agg(
                *[F.min(c).cast("double").alias(f"lo_{i}") for i, c in enumerate(sort_cols)],
                *[F.max(c).cast("double").alias(f"hi_{i}") for i, c in enumerate(sort_cols)],
            ).first()
            bounds = {
                c: (row[f"lo_{i}"], row[f"hi_{i}"]) for i, c in enumerate(sort_cols)
            }
            df = (
                df.withColumn("__z", _zorder_expr(sort_cols, bounds))
                .repartitionByRange(n_files, "__z")
                .sortWithinPartitions("__z")
                .drop("__z")
            )
        else:
            df = df.repartitionByRange(n_files, *sort_cols).sortWithinPartitions(
                *sort_cols
            )
        replace_partitions(spark, target_dir, df, [d])
        result[d] = sum(
            1
            for s in fs.listStatus(path_cls(part_path))
            if s.getPath().getName().endswith(".parquet")
        )
    return result
