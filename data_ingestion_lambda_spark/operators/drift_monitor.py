"""Maintained value-distribution drift monitor — the PRODUCTION form of
``events_distribution_drift`` (plans/events_queries.py), which rescans
all events per run. This module PERSISTS each day's value histogram in
the day's own partition and computes the day-over-day L1 drift READ-SIDE
over histogram rows — so a 100 TB events table is scanned once per day
(its own batch), never re-aggregated to answer "did yesterday's batch
shift".

Reference intent: the reference's daily loop touches only the new day's
files against its stored table (src/lambda_handler.py:38-102); applied
to the drift gate this means each batch is histogrammed exactly once, on
the day it arrives.

Table layout: ``date=<batch>``-partitioned parquet of
``(event_type, bucket, cnt)`` — the batch-id-keyed sink idiom shared
with the vocab model, the dedup-gate signature index, and the streaming
gap ledger:

  - a replayed batch overwrites only its own partition
    (``replace_partitions``) — idempotent by construction;
  - histogram counts are per-day facts (never merged across days);
    compaction (``compact_drift_monitor``) therefore CONCATENATES old
    partitions into the base, preserving each row's day as a ``day``
    data column — reads are row-equal and folded keys are spent
    (apply refuses below the ``_horizon=`` marker);
  - the read-side drift runs over |types| x |days| x |value-domain|
    histogram rows — data-volume-free.

Equality contract: the L1 arithmetic is LITERALLY the registered
operator's ``drift_from_histograms`` (imported), so N daily applications
followed by ``read_drift`` row-equals the one-shot operator over the
same events — pinned in tests/test_drift_monitor.py.
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
    PARTITION_COL,
    replace_partitions,
)
from data_ingestion_lambda_spark.operators.store_record import (
    Action,
    StoreRecord,
    report_rows,
)
from data_ingestion_lambda_spark.plans.events_queries import (
    drift_from_histograms,
    value_bucket,
)


def _batch_histogram(batch_events: DataFrame) -> DataFrame:
    """(event_type, bucket, cnt) for one batch — the quantization is the
    registered operator's own value_bucket expression (imported, so the
    two can never desynchronize)."""
    return (
        batch_events.select("event_type", value_bucket())
        .groupBy("event_type", "bucket")
        .agg(F.count("*").alias("cnt"))
    )


def apply_histogram_batch(
    spark: SparkSession, index_dir: str, batch_events: DataFrame, batch_date: str
) -> dict:
    """Land one day's value histogram under ``date=<batch_date>``.
    Re-running the same (batch, date) overwrites only that partition —
    idempotent.

    DAY PURITY IS ENFORCED: unlike the vocab/postings indexes, where the
    partition date is only a replay-idempotence key, the drift signal's
    correctness depends on every event belonging to its partition's day
    — a multi-day or mislabeled batch would silently corrupt BOTH
    adjacent day-pairs. Events outside ``batch_date`` raise; feeds that
    legitimately split or mix days belong on the streaming ledger
    (streaming/events.py::stream_value_histogram_to_table), which sums
    per-batch deltas read-side."""
    check_not_below_horizon(
        spark, index_dir, batch_date, "apply_histogram_batch"
    )
    # NULL ts counts as a purity violation too — `to_date(NULL) != date`
    # is NULL, which a bare inequality filter drops, silently admitting
    # undateable events into a day-keyed histogram.
    n_outside = batch_events.filter(
        F.col("ts").isNull()
        | (F.to_date("ts") != F.lit(batch_date).cast("date"))
    ).count()
    if n_outside:
        raise ValueError(
            f"drift monitor: {n_outside} events in this batch fall outside "
            f"{batch_date} (or carry NULL ts); the daily histogram index "
            "requires day-pure batches — route mixed-day feeds through the "
            "streaming ledger (stream_value_histogram_to_table)"
        )
    if batch_events.isEmpty():
        # A zero-row day is a legitimate fact: it stages nothing, so the
        # swap deletes any prior partition of the day (a replay-as-empty
        # must not leave stale counts), and there is no committed
        # partition to count below.
        replace_partitions(spark, index_dir, None, [batch_date])
        return {"date": batch_date, "hist_rows": 0}
    hist = _batch_histogram(batch_events).withColumn(PARTITION_COL, F.lit(batch_date))
    replace_partitions(spark, index_dir, hist, [batch_date])
    # count the COMMITTED partition (parquet row-group metadata), not a
    # re-run of the batch aggregation
    landed = spark.read.parquet(f"{index_dir}/{PARTITION_COL}={batch_date}").count()
    return {"date": batch_date, "hist_rows": landed}


def compact_drift_monitor(
    spark: SparkSession, index_dir: str, keep_from: str
) -> dict:
    """Fold old histogram partitions into the reserved base. The DAY is
    semantic (the L1 drift is day-over-day), so the fold CONCATENATES
    rows, preserving each row's day as a ``day`` data column inside the
    base — per-day histogram cells are disjoint facts, nothing merges,
    and ``read_drift`` is row-equal before/after (pinned). The fold
    buys the LIST-cost axis only: one base dir instead of one per day.
    Spends the folded keys (apply refuses below the horizon)."""
    def _merge(src: DataFrame):
        day = (
            F.coalesce(F.col("day"), F.col(PARTITION_COL).cast("string"))
            if "day" in src.columns
            else F.col(PARTITION_COL).cast("string")
        )
        return src.select("event_type", day.alias("day"), "bucket", "cnt"), []

    return base_fold(
        spark,
        index_dir,
        keep_from,
        op_name="compact_drift_monitor",
        part_key=PARTITION_COL,
        base_key=BASE_KEY,
        subtables={"": _merge},
    )


def read_drift(spark: SparkSession, index_dir: str) -> DataFrame:
    """Day-over-day L1 drift from the persisted histograms — the same
    output schema and arithmetic as events_distribution_drift, computed
    without touching raw events. The partition date string becomes the
    operator's DATE-typed day column; folded base rows carry their true
    day in the ``day`` data column instead (mergeSchema + coalesce)."""
    raw = spark.read.option("mergeSchema", "true").parquet(index_dir)
    day_col = (
        F.coalesce(F.col("day"), F.col(PARTITION_COL).cast("string"))
        if "day" in raw.columns
        else F.col(PARTITION_COL).cast("string")
    )
    h = raw.select(
        "event_type",
        day_col.cast("date").alias("day"),
        "bucket",
        "cnt",
    )
    return drift_from_histograms(h)


def _report(spark: SparkSession, index_dir: str, args) -> dict:
    drift = read_drift(spark, index_dir)
    if args.report_out is not None:
        return report_rows(drift, "report_out", args.report_out, drift_rows=None)
    rows = drift.orderBy("event_type", "day").collect()
    l1 = max((r.l1_drift for r in rows), default=None)
    return {"drift_rows": len(rows), "max_l1_drift": l1}


STORE = StoreRecord(
    "drift-monitor", apply_histogram_batch, compact_drift_monitor,
    "the histograms are per-day value-bucket counts with no per-subject provenance",
    events=True, actions=(Action(None, _report),),
)
