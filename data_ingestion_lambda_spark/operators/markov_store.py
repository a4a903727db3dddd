"""Maintained Markov-attribution store — the incremental form of
``events_attribution_markov`` (plans/events_queries.py): removal-effect
attribution is a function of the corpus-wide TRANSITION COUNT grid, and
a user's transition sequence decomposes by calendar day into per-day
summaries that stitch exactly at the seams — the session store's
seam-merge insight applied to journey edges.

Per (user, day) the ledger keeps TWO summaries of the day's touch
sequence, because the pre-first-purchase cutoff cannot be known
day-locally:

- FULL  — all of the day's touches (correct when the user's first
  purchase, if any, happens on a LATER day);
- TRUNC — only touches strictly before the day's own first purchase
  (correct when THIS day turns out to be the global first-purchase
  day; days after it contribute nothing).

Each summary is (n, first_state, last_state, edges9) where edges9 is
the 3x3 within-day adjacent-pair count grid — user-day-bounded state,
never event-bounded. The read picks the right variant per day from the
global first-purchase day (min over the user's stored p_ts days),
concatenates the day sequences in date order — within-day pairs come
from the stored grids, SEAM pairs from (last of day i, first of day
i+1), the start edge from the first contributing day, the terminal
edge from the last — and hands the summed corpus grid to the lane's
own exact-integer solve (markov_from_transition_counts, shared — no
desync possible). Pinned row-equal to the one-shot lane.

Why this is the right 100 TB shape: data-driven models need FULL
history statistics, so the statistics — not the events — are what the
ledger carries; today's batch is summarized once, on arrival, and the
read aggregates |users| x |active days| small structs instead of
re-scanning years of raw events.

Apply is day-pure (the calendar attribution store's replay contract:
a date partition owns all of its day's events; replays overwrite only
themselves).
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
from data_ingestion_lambda_spark.operators.layout import replace_partitions

_TOUCH_STATE = (
    "CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2 ELSE 3 END"
)


def _day_summary(events: DataFrame) -> DataFrame:
    """Per-user summaries of ONE day's events: first-purchase instant
    plus the FULL and TRUNC sequence summaries."""
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    e = events.select(
        "user_id",
        "event_id",
        "event_type",
        us.alias("ts_us"),
    )
    touch = F.when(
        F.col("event_type").isin("view", "click", "signup"),
        F.struct(
            F.col("ts_us").alias("ts_us"),
            F.col("event_id").alias("event_id"),
            F.expr(_TOUCH_STATE).alias("state"),
        ),
    )
    per_user = e.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts_us"))
        ).alias("p_ts"),
        F.array_sort(F.collect_list(touch)).alias("arr"),
    )

    def summary(arr_expr: str, prefix: str) -> list:
        # (n, first_state, last_state, edges9) of a sorted touch array
        return [
            F.expr(f"size({arr_expr})").cast("int").alias(f"{prefix}_n"),
            F.expr(
                f"IF(size({arr_expr}) > 0, element_at({arr_expr}, 1).state, NULL)"
            ).cast("int").alias(f"{prefix}_first"),
            F.expr(
                f"IF(size({arr_expr}) > 0, element_at({arr_expr}, -1).state, NULL)"
            ).cast("int").alias(f"{prefix}_last"),
            F.expr(
                f"transform(sequence(1, 9), j -> CAST(size(filter("
                f"  IF(size({arr_expr}) > 1, sequence(1, size({arr_expr}) - 1), array()),"
                f"  i -> (element_at({arr_expr}, i).state - 1) * 3"
                f"       + element_at({arr_expr}, i + 1).state = j)) AS BIGINT))"
            ).alias(f"{prefix}_edges"),
        ]

    trunc = "IF(p_ts IS NULL, arr, filter(arr, x -> x.ts_us < p_ts))"
    return per_user.select(
        "user_id",
        "p_ts",
        *summary("arr", "full"),
        *summary(trunc, "trunc"),
    )


def apply_markov_batch(
    spark: SparkSession, index_dir: str, batch_events: DataFrame, batch_date: str
) -> dict:
    """Land one DAY-PURE batch's per-user journey summaries under
    ``date=<batch_date>``. Idempotent per (batch, date)."""
    _dt.date.fromisoformat(batch_date)
    stray = batch_events.filter(
        F.col("ts").isNull()
        | (F.to_date("ts") != F.lit(batch_date).cast("date"))
    ).limit(1)
    if stray.count() > 0:
        raise ValueError(
            f"apply_markov_batch: batch contains events outside "
            f"{batch_date} (or NULL ts); the calendar ledger requires "
            "day-pure batches — re-apply the other date(s) separately"
        )
    check_keying_marker(spark, index_dir, "date")
    check_not_below_horizon(
        spark, index_dir, batch_date, "apply_markov_batch"
    )
    day = _day_summary(batch_events).withColumn("date", F.lit(batch_date))
    replace_partitions(spark, index_dir, day, [batch_date])
    return {"index": index_dir, "date": batch_date}


_MARKOV_COLS = (
    "p_ts",
    "full_n", "full_first", "full_last", "full_edges",
    "trunc_n", "trunc_first", "trunc_last", "trunc_edges",
)


def compact_markov_store(
    spark: SparkSession, index_dir: str, keep_from: str
) -> dict:
    """Fold old date partitions into the reserved base. Unlike the
    additive grids, the DAY is semantic here (the read orders each
    user's summaries by day and stitches the seams), so the fold is a
    CONCATENATION that preserves each row's day as a regular ``day``
    data column inside the base partition — rows are per (user, day)
    facts, disjoint across partitions, so nothing merges and the
    reconstruction is unchanged (pinned row-equal). What the fold buys
    is exactly the LIST-cost axis: one base dir instead of one per day.
    Spends the folded keys (apply refuses below the horizon)."""
    def _merge(src: DataFrame):
        day = (
            F.coalesce(F.col("day"), F.col("date").cast("string"))
            if "day" in src.columns
            else F.col("date").cast("string")
        )
        return src.select("user_id", day.alias("day"), *_MARKOV_COLS), []

    return base_fold(
        spark,
        index_dir,
        keep_from,
        op_name="compact_markov_store",
        part_key="date",
        base_key=BASE_KEY,
        subtables={"": _merge},
    )


def read_transition_counts(spark: SparkSession, index_dir: str) -> DataFrame:
    """(src, dst, count) corpus grid reconstructed from the day
    summaries — exactly the lane's grid over every event applied.
    ``mergeSchema`` + the coalesce make folded stores read identically:
    base rows carry their true day in the ``day`` data column while
    un-folded rows carry it in the partition value."""
    days = spark.read.option("mergeSchema", "true").parquet(index_dir)
    day_col = (
        F.coalesce(F.col("day"), F.col("date").cast("string"))
        if "day" in days.columns
        else F.col("date").cast("string")
    )
    per_user = days.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    day_col.alias("date"),
                    "p_ts",
                    "full_n", "full_first", "full_last", "full_edges",
                    "trunc_n", "trunc_first", "trunc_last", "trunc_edges",
                )
            )
        ).alias("days")
    )
    # global first-purchase day; pick FULL before it, TRUNC on it, drop after
    chosen = (
        "filter(transform("
        "  filter(days, d -> fp IS NULL OR d.date <= fp),"
        "  d -> IF(fp IS NOT NULL AND d.date = fp,"
        "          struct(d.trunc_n AS n, d.trunc_first AS first,"
        "                 d.trunc_last AS last, d.trunc_edges AS edges),"
        "          struct(d.full_n AS n, d.full_first AS first,"
        "                 d.full_last AS last, d.full_edges AS edges))"
        "), v -> v.n > 0)"
    )
    edges_expr = (
        # internal 3x3 grids summed, mapped back to (src, dst, cnt) structs
        "transform(sequence(1, 9), j -> struct("
        "  CAST((j - 1) div 3 + 1 AS INT) AS src,"
        "  CAST((j - 1) % 3 + 1 AS INT) AS dst,"
        "  aggregate(ch, CAST(0 AS BIGINT),"
        "            (acc, v) -> acc + element_at(v.edges, j)) AS cnt))"
        " || "
        # seam pairs between consecutive contributing days
        "IF(size(ch) > 1,"
        "   transform(sequence(1, size(ch) - 1), i -> struct("
        "     CAST(element_at(ch, i).last AS INT) AS src,"
        "     CAST(element_at(ch, i + 1).first AS INT) AS dst,"
        "     CAST(1 AS BIGINT) AS cnt)),"
        "   CAST(array() AS array<struct<src:int,dst:int,cnt:bigint>>))"
        " || "
        # start edge / terminal edge, or the touchless direct edge
        "IF(size(ch) > 0,"
        "   array(struct(CAST(0 AS INT) AS src,"
        "                CAST(element_at(ch, 1).first AS INT) AS dst,"
        "                CAST(1 AS BIGINT) AS cnt),"
        "         struct(CAST(element_at(ch, -1).last AS INT) AS src,"
        "                CAST(IF(fp IS NOT NULL, 4, 5) AS INT) AS dst,"
        "                CAST(1 AS BIGINT) AS cnt)),"
        "   array(struct(CAST(0 AS INT) AS src,"
        "                CAST(IF(fp IS NOT NULL, 4, 5) AS INT) AS dst,"
        "                CAST(1 AS BIGINT) AS cnt)))"
    )
    return (
        per_user.withColumn(
            "fp",
            F.expr(
                "array_min(transform(filter(days, d -> d.p_ts IS NOT NULL),"
                " d -> d.date))"
            ),
        )
        .withColumn("ch", F.expr(chosen))
        .select(F.explode(F.expr(edges_expr)).alias("e"))
        .groupBy("e.src", "e.dst")
        .agg(F.sum("e.cnt").alias("count"))
        .filter(F.col("count") > 0)
    )


def read_attribution_markov(spark: SparkSession, index_dir: str) -> DataFrame:
    """Removal-effect credit from the ledger — the lane's own solve over
    the reconstructed grid; pinned row-equal to
    events_attribution_markov in tests/test_markov_store.py."""
    from data_ingestion_lambda_spark.plans.events_queries import (
        markov_from_transition_counts,
    )

    return markov_from_transition_counts(
        spark, read_transition_counts(spark, index_dir).collect()
    )
