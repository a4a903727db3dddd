"""Maintained Count-Min sketch store — the PRODUCTION form of
``profile_heavy_hitters_cms`` (plans/profiling.py), and the
no-undercount dual of the Misra-Gries heavy-hitter store
(operators/hh_store.py): MG answers "which items are heavy" with
counters that never OVERcount; CMS answers "how often did THIS item
occur" with estimates that never UNDERcount. A production monitor keeps
both and brackets the truth.

Why the ledger is exact under any split: a CMS table is a d x w grid of
integer cell counts, and the CMS of a union is the CELL-WISE SUM of the
parts' grids — strictly additive, like the feature store's moments, so
N daily applications followed by a read-side sum equals the one-shot
sketch over everything (pinned in tests/test_cms_store.py). No merge
step loses information (unlike MG, whose merge subtracts), so the
ledger read is a plain map-side-combinable aggregate over
d x w x |batches| rows — bounded by the calendar, never by data.

Table layout: ``date=<batch>``-partitioned parquet of (j, bucket, cnt)
cell rows, <= d*w per partition — the batch-id-keyed sink idiom
(replay overwrites only itself; idempotent). Point queries
(``estimate_items``) cost |items| x d probe rows joined against the
summed grid.

Reference intent: the reference's daily loop touches only the new day's
files against its stored table (src/lambda_handler.py:38-102); applied
to frequency monitoring this means each batch is hashed into the grid
exactly once, on the day it arrives.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestion_lambda_spark.operators.base_fold import (
    BASE_KEY,
    base_fold,
    check_not_below_horizon,
)
from data_ingestion_lambda_spark.operators.layout import (
    KEYINGS,
    hadoop_fs,
    key_column,
    ledger_keying,
    replace_partitions,
)
from data_ingestion_lambda_spark.operators.store_record import (
    Action,
    StoreRecord,
    iso_date_only,
    report_rows,
)
from data_ingestion_lambda_spark.plans.profiling import cms_counters, cms_estimate


def check_keying_marker(spark: SparkSession, index_dir: str, keying: str) -> None:
    """One directory, one ledger keying (ADVICE r8): CLI applies
    partition by ``date=`` while the streaming front partitions by
    ``ingest_batch=`` — MIXING them in one index puts conflicting
    partition column names at the same level, which Spark's partition
    discovery rejects at READ time, long after both writers thought
    they succeeded. The keying is recorded as an empty
    ``_keyed_by=<col>`` marker directory (the vocab ``_order`` idiom —
    the underscore prefix hides it from the file index) and every
    writer checks it up front; legacy marker-less directories infer
    theirs from the existing partition dirs."""
    if keying not in KEYINGS:
        raise ValueError(f"check_keying_marker: unknown keying {keying!r}")
    recorded = ledger_keying(spark, index_dir)  # refuses a mixed dir
    if recorded is not None and recorded != keying:
        raise ValueError(
            f"index at {index_dir} is keyed by {recorded}=; refusing a "
            f"{keying}=-keyed apply — one directory, one keying (use a "
            "separate --index for the other ingestion path)"
        )
    fs, path_cls = hadoop_fs(spark, index_dir)
    marker = path_cls(f"{index_dir}/_keyed_by={keying}")
    if not fs.exists(marker):
        fs.mkdirs(marker)


def apply_cms_batch(
    spark: SparkSession, index_dir: str, items: DataFrame, batch_key: str
) -> dict:
    """Land one batch's CMS grid under its key: ``date=<ISO date>`` for a
    CLI apply, ``ingest_batch=b<id>`` for a streamed micro-batch
    (``layout.key_column``). Idempotent per (batch, key); refuses an index
    keyed the other way (marker check above)."""
    col = key_column(batch_key)
    check_keying_marker(spark, index_dir, col)
    check_not_below_horizon(spark, index_dir, batch_key, "apply_cms_batch")
    grid = cms_counters(items).withColumn(col, F.lit(batch_key))
    replace_partitions(spark, index_dir, grid, [batch_key], part_col=col)
    return {"index": index_dir, col: batch_key}


def check_stream_keying(spark: SparkSession, index_dir: str, **_) -> None:
    """The sketch stores' refusal before a stream starts: the index must
    not be keyed by ``date=``."""
    check_keying_marker(spark, index_dir, "ingest_batch")


def compact_cms_store(spark: SparkSession, index_dir: str, keep_from: str) -> dict:
    """Fold old batch partitions into the reserved base: the CMS of a
    union is the CELL-WISE SUM of the parts' grids, so the fold is a
    (j, bucket) sum and ``read_cms`` — hence every estimate — is
    unchanged (pinned in tests/test_store_compaction.py). The base is
    ≤ d×w rows regardless of how many batches folded. Spends the folded
    keys (apply/streamed-land refuse below the horizon). Works for both
    keyings; the partition column comes from the ``_keyed_by=`` marker."""
    return base_fold(
        spark,
        index_dir,
        keep_from,
        op_name="compact_cms_store",
        part_key=ledger_keying(spark, index_dir, "date"),
        base_key=BASE_KEY,
        subtables={
            "": lambda src: (
                src.groupBy("j", "bucket").agg(
                    F.sum("cnt").cast("long").alias("cnt")
                ),
                [],
            )
        },
    )


def read_cms(spark: SparkSession, index_dir: str) -> DataFrame:
    """The current grid: cell-wise sum across batch partitions. Works
    over both ledger keyings (CLI date= and the streaming front's
    ingest_batch= partitions)."""
    return (
        spark.read.parquet(index_dir)
        .drop("date", "ingest_batch")
        .groupBy("j", "bucket")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )


def estimate_items(
    spark: SparkSession, index_dir: str, items: DataFrame
) -> DataFrame:
    """(item, est) for the distinct query items: min over hash rows of
    the summed grid's cells — never an undercount of the item's true
    total across every applied batch."""
    return cms_estimate(items, read_cms(spark, index_dir))


def _estimates(spark, index_dir, args) -> dict:
    est = estimate_items(spark, index_dir, spark.read.parquet(args.query).select("item"))
    if args.estimates_out is not None:
        return report_rows(est, "estimates_out", args.estimates_out, estimated_items=None)
    rows = est.orderBy(F.desc("est"), "item").collect()
    top = [{"item": r.item, "est": r.est} for r in rows[:5]]
    return {"estimated_items": len(rows), "top": top}


STORE = StoreRecord(
    "cms-store", apply_cms_batch, compact_cms_store,
    "a Count-Min grid is a cell-wise SUM over hashed items — one item's "
    "contribution is not recoverable from the cells",
    columns=("item",), stream_schema="item string", pre_stream=check_stream_keying,
    actions=(Action("query", _estimates),), check=iso_date_only,
    needs=("batch", "stream_source", "query", "compact_keep_from"),
)
