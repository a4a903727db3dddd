"""Maintained user touch-state store — the incremental form of
``events_attribution_shapley`` (plans/events_queries.py): Shapley
attribution needs only each user's coalition (the SET of channels that
ever touched them) and conversion flag, and set-union / boolean-OR is
an idempotent, commutative, associative fold — the strongest possible
ledger semantics (even overlapping batches cannot corrupt it).

Table layout: ``date=<batch>``-partitioned parquet of per-user
(mask, conv) rows — user-bounded per partition, never event-bounded.
The read folds ``bit_or(mask), max(conv)`` per user across partitions
(exactly the one-shot per-user rollup over everything applied, ANY
split), collapses to the ≤2^n coalition table, and hands the same
exact-integer Shapley walk the lane runs. Today's batch never re-scans
event history; the fold is user-count-bounded.

Reference intent: the reference's daily loop touches only the new
day's files against stored state (src/lambda_handler.py:38-102);
applied to data-driven attribution this is the only shape that works —
the models are functions of FULL-history statistics, so the statistics,
not the events, are what the ledger carries.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestion_lambda_spark.operators.base_fold import (
    BASE_KEY,
    base_fold,
    check_not_below_horizon,
)
from data_ingestion_lambda_spark.operators.cms_store import check_keying_marker
from data_ingestion_lambda_spark.operators.layout import (
    ledger_keying,
    replace_partitions,
)

_PPB = 10**9


def _user_state(events: DataFrame) -> DataFrame:
    flag = lambda ty: F.max(  # noqa: E731
        F.when(F.col("event_type") == ty, 1).otherwise(0)
    )
    return events.groupBy("user_id").agg(
        (flag("view") + 2 * flag("click") + 4 * flag("signup"))
        .cast("int")
        .alias("mask"),
        flag("purchase").cast("int").alias("conv"),
    )


def apply_touch_batch(
    spark: SparkSession, index_dir: str, events: DataFrame, batch_date: str
) -> dict:
    """Land one batch's per-user (mask, conv) under ``date=<batch>``.
    Idempotent per (batch, date); any event split is fine — the fold is
    idempotent OR, so even re-delivered events cannot overcount."""
    _dt.date.fromisoformat(batch_date)
    check_keying_marker(spark, index_dir, "date")
    check_not_below_horizon(spark, index_dir, batch_date, "apply_touch_batch")
    state = _user_state(events).withColumn("date", F.lit(batch_date))
    replace_partitions(spark, index_dir, state, [batch_date])
    return {"index": index_dir, "date": batch_date}


def compact_touch_store(
    spark: SparkSession, index_dir: str, keep_from: str
) -> dict:
    """Fold old batch partitions into the reserved base: the fold is
    the read's own per-user ``bit_or(mask), max(conv)`` — idempotent
    OR-semigroup, the strongest merge semantics here (even overlapping
    folded batches cannot corrupt it) — so ``read_touch_state`` and the
    Shapley credit are unchanged (pinned). The base is user-bounded.
    Spends the folded keys; both keyings supported."""
    return base_fold(
        spark,
        index_dir,
        keep_from,
        op_name="compact_touch_store",
        part_key=ledger_keying(spark, index_dir, "date"),
        base_key=BASE_KEY,
        subtables={
            "": lambda src: (
                src.groupBy("user_id").agg(
                    F.bit_or("mask").cast("int").alias("mask"),
                    F.max("conv").cast("int").alias("conv"),
                ),
                [],
            )
        },
    )


def read_touch_state(spark: SparkSession, index_dir: str) -> DataFrame:
    """Current per-user coalition state: OR-fold across partitions —
    exactly the one-shot rollup over every event applied."""
    return (
        spark.read.parquet(index_dir)
        .drop("date", "ingest_batch")
        .groupBy("user_id")
        .agg(
            F.bit_or("mask").cast("int").alias("mask"),
            F.max("conv").cast("int").alias("conv"),
        )
    )


def read_attribution_shapley(spark: SparkSession, index_dir: str) -> DataFrame:
    """Shapley credit per channel from the folded state — the lane's
    OWN exact-integer coalition walk (shapley_from_user_state, shared —
    no desync possible) over the store, pinned row-equal to
    events_attribution_shapley in tests/test_touch_store.py."""
    from data_ingestion_lambda_spark.plans.events_queries import (
        shapley_from_user_state,
    )

    state = read_touch_state(spark, index_dir).withColumnRenamed(
        "conv", "converted"
    )
    return shapley_from_user_state(spark, state)
