"""Maintained incremental sessionization — the PRODUCTION form of the
registered ``events_sessionize`` lane, which re-sorts all events per
run. Sessions are the textbook NON-additive aggregate (a session can
span any batch boundary), which is why naive per-batch sessionization
is wrong and most pipelines fall back to full recompute. This module
makes the per-batch result an EXACT mergeable summary instead:

- ``apply_session_batch`` lands one batch's PARTIAL sessions (the gap
  rule applied within the batch only) in the batch date's own
  partition — the date-keyed sink idiom shared with the feature store
  and drift monitor (replay overwrites only itself; idempotent).
- ``read_sessions`` merges read-side by RE-APPLYING the same gap rule
  at session granularity: partial sessions ordered per user by start,
  adjacent ones merged when the seam gap (next.start − prev.end) is
  within the threshold, then min-start/max-end/Σevents per merged run.

Why the seam merge is exact: each partial session is a CHAIN of events
(consecutive gaps within the threshold inside its own batch), and the
interval-union merge — gap measured from the running max of prior ends,
see merge_partial_sessions — reconstructs the one-shot session set from
any collection of chains, for ANY split of the events into batches
(day-pure or not; the proof is in the merge's docstring). Pinned in
tests/test_session_store.py including per-user session_seq numbering,
and in tests/test_index_streams.py for arbitrary micro-batch splits.
The merge input is |sessions| rows (data-volume-free), so the read side
costs session-count, never event-count.

The CALENDAR ledger still requires date-pure batches — not for merge
correctness (the running-max merge doesn't need it) but as the replay
discipline: the date partition is the idempotence key, so it must own
ALL of its day's events or a replayed apply would drop the strays.
Feeds that legitimately mix days belong on the streaming front
(streaming/index_streams.py), whose micro-batch-id keys own exactly
their batch's events by construction.

Cites: gap-based sessionization twin of
``session_window(ts, '30 minutes')`` (plans/events_queries.py:69-111);
the reference's daily loop touches only the new day's files
(src/lambda_handler.py:38-102).
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestion_lambda_spark.operators.base_fold import (
    BASE_KEY,
    base_fold,
    check_not_below_horizon,
)
from data_ingestion_lambda_spark.operators.layout import replace_partitions
from data_ingestion_lambda_spark.operators.store_record import (
    Action,
    StoreRecord,
    StoreSpec,
    report_rows,
)

GAP_US = 30 * 60 * 1_000_000  # the events_sessionize threshold


def sessionize_batch(events: DataFrame) -> DataFrame:
    """The registered lane's exact recipe over one batch: lag + cumsum
    session runs, then (user, run) rollup to (start, end, n_events).
    Emits start/end as epoch-µs longs (the seam merge's arithmetic
    domain); ``read_sessions`` converts back to timestamps."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    prev_us = F.lag(us).over(w)
    new_session = F.when(prev_us.isNull() | (us - prev_us > GAP_US), 1).otherwise(0)
    tagged = events.withColumn(
        "run",
        F.sum(new_session).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return tagged.groupBy("user_id", "run").agg(
        F.min(us).cast("long").alias("start_us"),
        F.max(us).cast("long").alias("end_us"),
        F.count("*").cast("long").alias("n_events"),
    ).drop("run")


def apply_session_batch(
    spark: SparkSession, index_dir: str, batch_events: DataFrame, batch_date: str
) -> dict:
    """Land one DAY-PURE batch's partial sessions under
    ``date=<batch_date>``. Re-running the same (batch, date) overwrites
    only that partition — idempotent. Day purity is enforced (see module
    docstring: the seam-merge proof needs contiguous per-partition time
    slices), so late events for an old date are a BACKFILL re-apply of
    that date, never a mixed batch."""
    _dt.date.fromisoformat(batch_date)
    check_not_below_horizon(
        spark, index_dir, batch_date, "apply_session_batch"
    )
    stray = batch_events.filter(F.to_date("ts") != F.lit(batch_date)).limit(1)
    if stray.count() > 0:
        raise ValueError(
            f"apply_session_batch: batch contains events outside "
            f"{batch_date}; partial-session merge requires date-pure "
            "batches — re-apply the other date(s) separately"
        )
    part = sessionize_batch(batch_events)
    replace_partitions(
        spark, index_dir, part.withColumn("date", F.lit(batch_date)), [batch_date]
    )
    return {
        "index": index_dir,
        "date": batch_date,
        "partial_sessions": part.count(),
    }


def land_session_batch(
    spark: SparkSession, index_dir: str, batch_events: DataFrame, key: str
) -> dict:
    """Land one micro-batch's partial sessions under ``date=<key>`` with
    NO day-purity requirement — the streaming front's landing: the
    batch-id key owns exactly its batch's events by construction, and
    the running-max seam merge is exact for arbitrary splits (see
    merge_partial_sessions). Replaying the same (batch, key) overwrites
    only its own partition — idempotent."""
    check_not_below_horizon(spark, index_dir, key, "land_session_batch")
    part = sessionize_batch(batch_events)
    replace_partitions(
        spark, index_dir, part.withColumn("date", F.lit(key)), [key]
    )
    return {"key": key}


def compact_session_store(
    spark: SparkSession, index_dir: str, keep_from: str
) -> dict:
    """Fold old partial-session partitions into the reserved base by
    RUNNING THE SEAM MERGE over them and re-emitting the merged
    sessions as partials (``session_seq`` dropped — the read renumbers
    from scratch). Exact because the interval-union merge is
    associative and idempotent on chains, and a merged session IS a
    chain (it is the one-shot session of the union of its events — see
    ``merge_partial_sessions``'s proof), so merging {base} ∪ {newer
    partials} equals merging all original partials — pinned row-equal
    incl. session_seq in tests/test_store_compaction.py. The base is
    session-count-bounded. Spends the folded keys (both the day-pure
    apply and the streaming land refuse below the horizon)."""
    return base_fold(
        spark,
        index_dir,
        keep_from,
        op_name="compact_session_store",
        part_key="date",
        base_key=BASE_KEY,
        subtables={
            "": lambda src: (
                merge_partial_sessions(
                    src.select("user_id", "start_us", "end_us", "n_events")
                ).select("user_id", "start_us", "end_us", "n_events"),
                [],
            )
        },
    )


def merge_partial_sessions(partials: DataFrame) -> DataFrame:
    """The seam merge: the gap/cumsum rule applied at session
    granularity, with the gap measured from the RUNNING MAX of prior
    partial-session ENDS to this one's start (the textbook interval-
    union recipe), then a min/max/Σ rollup per merged run. Input and
    output are session-count rows. Emits the per-user ``session_seq``
    in time order — identical numbering to the one-shot lane by
    construction (both are cumsums over the same time order).

    Why running-max (not lag) makes this exact for ARBITRARY batch
    splits, not just contiguous day slices: every partial is a CHAIN
    (consecutive events ≤ gap apart within its batch), so (a) a partial
    whose start is within gap of the running max end shares a ≤gap event
    pair with the group — same true session; and (b) two partials P, Q
    carrying time-consecutive events e ∈ P, e' ∈ Q with e' − e ≤ gap
    always land in the same group: any interval R sorting between them
    that could break the run would need start_R > maxend + gap ≥ e + gap
    while start_R ≤ start_Q ≤ e' ≤ e + gap — a contradiction. lag(end)
    lacks property (b) when one partial NESTS inside another's span
    (e.g. [0,300] and [10,20]: the next interval's lag-end is 20, not
    300), which day-pure slices could never produce but arbitrary
    micro-batch splits can — the streaming front
    (streaming/index_streams.py) relies on this."""
    w = Window.partitionBy("user_id").orderBy("start_us", "end_us")
    prev_end = F.max("end_us").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    new_session = F.when(
        prev_end.isNull() | (F.col("start_us") - prev_end > GAP_US), 1
    ).otherwise(0)
    tagged = partials.withColumn(
        "session_seq",
        F.sum(new_session)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long"),
    )
    return tagged.groupBy("user_id", "session_seq").agg(
        F.min("start_us").alias("start_us"),
        F.max("end_us").alias("end_us"),
        F.sum("n_events").cast("long").alias("n_events"),
    )


def read_sessions(spark: SparkSession, index_dir: str) -> DataFrame:
    """The current session table, merged from all date partitions —
    row-equal to ``events_sessionize`` over the same events (pinned),
    in the registered lane's schema."""
    merged = merge_partial_sessions(
        spark.read.parquet(index_dir).drop("date")
    )
    return merged.select(
        "user_id",
        "session_seq",
        F.timestamp_micros(F.col("start_us")).alias("session_start"),
        F.timestamp_micros(F.col("end_us")).alias("session_end"),
        "n_events",
    )


def read_user_session_stats(spark: SparkSession, index_dir: str) -> DataFrame:
    """Per-user session features derived from the store — the maintained
    twin of the registered ``feature_user_session_stats`` lane, through
    the same arithmetic (one division per rate over integer-µs sums)."""
    merged = merge_partial_sessions(spark.read.parquet(index_dir).drop("date"))
    dur_us = F.col("end_us") - F.col("start_us")
    agg = merged.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_sessions"),
        F.sum("n_events").cast("long").alias("total_events"),
        F.sum(dur_us).cast("long").alias("total_us"),
        F.max(dur_us).cast("long").alias("max_us"),
    )
    return agg.select(
        "user_id",
        "n_sessions",
        "total_events",
        (F.col("total_events").cast("double") / F.col("n_sessions")).alias(
            "events_per_session"
        ),
        (
            F.col("total_us").cast("double")
            / (F.col("n_sessions") * F.lit(1000000))
        ).alias("mean_session_sec"),
        (F.col("max_us").cast("double") / F.lit(1000000.0)).alias(
            "max_session_sec"
        ),
    )


def _sessions(spark: SparkSession, index_dir: str, args) -> dict:
    sessions = read_sessions(spark, index_dir)
    return report_rows(sessions, "sessions_out", args.sessions_out, sessions=None)


def _stats(spark: SparkSession, index_dir: str, args) -> dict:
    stats = read_user_session_stats(spark, index_dir)
    return report_rows(stats, "stats_out", args.stats_out, users=None)


STORE = StoreRecord(
    "session-store", apply_session_batch, compact_session_store,
    StoreSpec(key_col="user_id"), events=True,
    # raw generator drops carry parquet TIMESTAMP(NANOS), a LONG under the
    # session's nanosAsLong conf: stream them with schema "... ts bigint"
    stream_schema="event_id bigint, user_id bigint, ts timestamp",
    land=land_session_batch,
    actions=(Action("sessions_out", _sessions), Action("stats_out", _stats)),
    needs=("batch", "stream_source", "sessions_out", "stats_out", "compact_keep_from"),
)
