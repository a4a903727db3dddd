"""Maintained heavy-hitter store — the first SKETCH-valued ledger in the
maintained-index family: per-batch Misra-Gries summaries land in the
batch date's own partition, and the read side merges them with the
mergeable-summaries merge (sum per item, subtract the global (K+1)th
largest). Mergeability (Agarwal, Cormode, Huang, Phillips, Wei, Yi —
PODS'12) is exactly what makes this ledger deployment-correct: the
merged sketch of N daily summaries carries the SAME guarantee as one
sketch over the concatenated stream — every item above ΣNᵢ/(K+1) of the
total survives, undercounted by at most that bound — so the store never
re-reads history, and the guarantee degrades with TOTAL volume exactly
as the one-shot sketch does (pinned in tests/test_hh_store.py).

Why a store at all: heavy hitters over an unbounded item domain (URLs,
user agents, query strings) is the op whose EXACT form shuffles one row
per distinct item per refresh — the plan the registered
profile_heavy_hitters lane documents as the thing to avoid at 100 TB.
The ledger pays one MG pass per batch (its own rows only) and a
summary-sized merge per read.

Layout: ``date=<batch>``-partitioned parquet of (item, cnt) counter
rows, ≤ K × |batch partitions on that date| rows per partition — the
date-keyed sink idiom (replay overwrites only itself; idempotent).
Also persisted per batch: one ``__n__`` row carrying the batch's total
item count, so the read side can state the absolute undercount bound
without touching raw data (the reserved item name cannot collide with
real items because both apply paths — apply_hh_batch and the streaming
front's per-trigger land — REFUSE any real item named ``__n__``).
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
from data_ingestion_lambda_spark.operators.layout import (
    ledger_keying,
    replace_partitions,
)
from data_ingestion_lambda_spark.operators.store_record import (
    Action,
    StoreRecord,
    StoreSpec,
    report_rows,
)
from data_ingestion_lambda_spark.plans.profiling import _HH_K, mg_sketch

N_ROW = "__n__"  # reserved item carrying the batch's total count


def apply_hh_batch(
    spark: SparkSession, index_dir: str, items: DataFrame, batch_date: str
) -> dict:
    """Land one batch's MG summary (plus its ``__n__`` total row) under
    ``date=<batch_date>``. Idempotent per (batch, date). Refuses items
    named like the reserved total row."""
    _dt.date.fromisoformat(batch_date)
    if items.filter(F.col("item") == N_ROW).limit(1).count() > 0:
        raise ValueError(f"apply_hh_batch: item name {N_ROW!r} is reserved")
    check_not_below_horizon(spark, index_dir, batch_date, "apply_hh_batch")
    sketch = mg_sketch(items).select("item", F.col("g").alias("cnt"))
    total = items.agg(
        F.lit(N_ROW).alias("item"), F.count("*").cast("long").alias("cnt")
    )
    part = sketch.unionByName(total).withColumn("date", F.lit(batch_date))
    replace_partitions(spark, index_dir, part, [batch_date])
    return {"index": index_dir, "date": batch_date}


def compact_hh_store(spark: SparkSession, index_dir: str, keep_from: str) -> dict:
    """Fold old batch partitions into the reserved base as a plain
    per-item counter SUM (the ``__n__`` total rows sum alongside).
    Deliberately NOT the K-counter reduction: ``read_heavy_hitters``
    starts from per-item sums across partitions, so a summed base makes
    the read literally the same aggregate over fewer rows — row-equal
    pre/post (pinned), with the merged-sketch guarantee untouched. The
    base holds ≤ distinct-counter-items rows (≤ K per folded batch in
    the worst case, typically far fewer after summing). Spends the
    folded keys; both keyings supported."""
    return base_fold(
        spark,
        index_dir,
        keep_from,
        op_name="compact_hh_store",
        part_key=ledger_keying(spark, index_dir, "date"),
        base_key=BASE_KEY,
        subtables={
            "": lambda src: (
                src.groupBy("item").agg(
                    F.sum("cnt").cast("long").alias("cnt")
                ),
                [],
            )
        },
    )


def read_heavy_hitters(spark: SparkSession, index_dir: str) -> DataFrame:
    """The merged sketch: per-item counter lower bounds, the total
    stream count, and the absolute undercount bound total/(K+1). Every
    item whose true frequency exceeds the bound is guaranteed present;
    no counter ever exceeds an item's true count."""
    # works over both ledger keyings: the CLI-shaped date= partitions
    # and the streaming front's ingest_batch= partitions (drop is
    # lenient for absent columns)
    rows = spark.read.parquet(index_dir).drop("date", "ingest_batch")
    total = rows.filter(F.col("item") == N_ROW).agg(
        F.sum("cnt").cast("long").alias("n_total")
    )
    summed = (
        rows.filter(F.col("item") != N_ROW)
        .groupBy("item")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )
    # Agarwal et al. merge step: reduce back to K counters. The window
    # input is the summary (≤ K × |dates|), bounded by design.
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("cnt"), "item")
    ranked = summed.withColumn("rn", F.row_number().over(w))
    sub = ranked.filter(F.col("rn") == _HH_K + 1).agg(
        F.coalesce(F.max("cnt"), F.lit(0)).cast("long").alias("sub")
    )
    return (
        ranked.crossJoin(F.broadcast(sub))
        .select("item", (F.col("cnt") - F.col("sub")).alias("count_lower"))
        .filter(F.col("count_lower") > 0)
        .crossJoin(F.broadcast(total))
        .select(
            "item",
            "count_lower",
            "n_total",
            F.floor(F.col("n_total") / (_HH_K + 1))
            .cast("long")
            .alias("undercount_bound"),
        )
    )


def _report(spark: SparkSession, index_dir: str, args) -> dict:
    hh = read_heavy_hitters(spark, index_dir)
    if args.report_out is not None:
        return report_rows(hh, "report_out", args.report_out, heavy_hitters=None)
    rows = hh.orderBy(F.desc("count_lower"), "item").collect()
    top = [{"item": r.item, "count_lower": r.count_lower} for r in rows[:5]]
    report = {"heavy_hitters": len(rows), "top": top}
    if rows:
        report["n_total"] = rows[0].n_total
        report["undercount_bound"] = rows[0].undercount_bound
    return report


STORE = StoreRecord(
    "hh-store", apply_hh_batch, compact_hh_store, StoreSpec(key_col="item"),
    columns=("item",), actions=(Action(None, _report),),
)
