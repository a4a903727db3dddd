"""Incremental ingestion: Structured Streaming file source + foreachBatch
MERGE — the Spark-native replacement for the reference's entire control
plane (SURVEY §2.1 S1/S3-S6/S8).

What each reference mechanism becomes:
- checkpoint date file (src/s3_processor.py:113-158,192-210)
    → the stream's ``checkpointLocation`` offset/commit log (atomic,
      transactional — fixes the lost-file bug of SURVEY §1.4.2)
- missing-dates backfill ledger (src/s3_processor.py:162-189)
    → the file source re-lists the glob every trigger and picks up
      late-landing files regardless of their date directory; no ledger
- per-file loop + per-file commit (src/db_operations.py:8-54)
    → micro-batches with idempotent MERGE ⇒ end-to-end exactly-once
- scheduled Lambda invocation (src/lambda_handler.py:38)
    → the availableNow run of ``streaming/driver.py::drain``: one
      invocation drains everything new then stops — same operational
      shape, real checkpointing
- JSON audit twin (src/s3_processor.py:147-154)
    → an append-only parquet ingestion log written per batch

The parquet and JDBC sinks share the source, the micro-batch body
(``_process_batch``) and the last-writer-wins reduction
(``merge_last_writer_wins``); only the write differs.

Scale notes: ``maxFilesPerTrigger`` bounds batch size (the pacing the
reference accidentally got from MaxKeys=10, SURVEY §1.4.5, minus the data
loss); the parquet merge rewrites only the batch's date partitions, but
its read still discovers every stored date (operators/upsert.py).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from data_ingestion_lambda_spark.functions.normalize import (
    normalize_consumption,
    stage_consumption,
    staged_summary,
)
from data_ingestion_lambda_spark.operators.layout import has_partition, replace_partitions
from data_ingestion_lambda_spark.operators.upsert import (
    merge_last_writer_wins,
    upsert_into_parquet,
    upsert_into_parquet_with_cdc,
)
from data_ingestion_lambda_spark.sources.csv_source import consumption_csv
from data_ingestion_lambda_spark.streaming.driver import drain, paced_reader

QUARANTINE_PART_COL = "_batch_id"

# Last-writer-wins order: the reference processes files sequentially in
# date order (src/s3_processor.py:78), and date-partitioned drop paths
# sort lexicographically by date, so ranking by path reproduces "later
# file wins". Within one file the split's byte offset restores
# cross-split order (monotonically_increasing_id alone does not follow
# file offset when a file spans several splits), and _ingest_seq
# (monotonic within a split) breaks ties inside one split.
ORDER_COLS = ["_source_file", "_block_start", "_ingest_seq"]

# Merges one micro-batch's good rows, given their distinct dates; returns
# what it merged. Called only for a batch with good rows.
Sink = Callable[[DataFrame, int, list], Any]


def _write_quarantine(
    spark: SparkSession,
    quarantine_dir: str,
    quarantined: DataFrame | None,
    batch_id: int,
) -> None:
    """Persist the batch's bad rows under their own ``_batch_id=<id>``
    partition via the staged swap, so an at-least-once REPLAY of an
    uncommitted micro-batch overwrites its own evidence instead of
    appending a duplicate copy (ADVICE r13 — the old ``mode('append')``
    write duplicated quarantine rows on every replay). The underscore
    partition name stays reader-visible: Spark's file index exempts
    ``_name=value`` partition dirs from its hidden-path filter.

    ``quarantined=None`` is a batch without bad rows: it writes nothing,
    unless ``_batch_id=<id>`` already exists, which the swap then deletes
    without a Spark job."""
    if quarantined is None:
        if not has_partition(spark, quarantine_dir, QUARANTINE_PART_COL, batch_id):
            return
    else:
        quarantined = quarantined.withColumn(QUARANTINE_PART_COL, F.lit(batch_id))
    replace_partitions(
        spark, quarantine_dir, quarantined, [batch_id], part_col=QUARANTINE_PART_COL
    )


@dataclass
class IngestPaths:
    source_dir: str  # root of date-partitioned CSV drops
    target_dir: str  # parquet consumptions table (partitioned by date)
    checkpoint_dir: str  # streaming offset/commit log
    # bad rows, one _batch_id=<id> partition per micro-batch with bad
    # rows (a replay replaces its own partition)
    quarantine_dir: str | None = None
    log_dir: str | None = None  # ingestion log (audit twin)
    # change feed (upsert_into_parquet_with_cdc): each micro-batch's
    # insert/update rows land in their own batch-id partition here —
    # what downstream incrementals subscribe to instead of diffing the
    # table. None = plain merge, no feed.
    changes_dir: str | None = None


def _process_batch(
    spark: SparkSession,
    batch: DataFrame,
    batch_id: int,
    sink: Sink,
    quarantine_dir: str | None,
    log_dir: str | None,
) -> Any:
    """The micro-batch body of every sink: order the rows, normalize them,
    merge the good ones through ``sink``, keep the bad ones, log. Returns
    what the sink merged, or None when it merged nothing.

    One pass: a single Spark job scans the batch's CSV, normalizes every
    row into one persisted frame and observes, through the Observation
    API, what the rest of the body needs to know (the good rows' dates,
    count and max date, the bad-row count). The merge, the quarantine
    write and the log then read that frame or those figures, so the CSV
    is scanned once and nothing is collected twice."""
    batch = batch.withColumn("_ingest_seq", F.monotonically_increasing_id())
    staged = stage_consumption(batch).persist()
    try:
        obs = Observation(f"ingest_batch_{batch_id}")
        staged.observe(obs, *staged_summary()).write.format("noop").mode("overwrite").save()
        m = obs.get
        good, quarantined = normalize_consumption(staged)
        merged = sink(good, batch_id, m["dates"]) if m["rows_upserted"] else None
        # Merge first, quarantine second. The order carries no safety:
        # both writes run before the checkpoint commits this batch, so a
        # crash between or after them replays the whole batch, and both
        # converge under replay (the merge on its key, the quarantine
        # write on its _batch_id partition).
        if quarantine_dir is not None:
            _write_quarantine(
                spark,
                quarantine_dir,
                quarantined if m["rows_quarantined"] else None,
                batch_id,
            )
        if log_dir is not None:
            # The audit twin (src/s3_processor.py:147-154) as an
            # append-only table; a batch without good rows logs its zero
            # row (max_date NULL).
            log = spark.range(1).select(
                F.lit(batch_id).alias("batch_id"),
                F.lit(m["rows_upserted"]).cast("long").alias("rows_upserted"),
                F.lit(m["max_date"]).cast("date").alias("max_date"),
                F.current_timestamp().alias("logged_at"),
            )
            log.write.mode("append").parquet(log_dir)
        return merged or None
    finally:
        staged.unpersist()


def run_ingest_to_jdbc_available_now(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    jdbc_url: str,
    target_table: str,
    staging_table: str = "consumptions_staging",
    max_files_per_trigger: int | None = None,
    path_glob: str = "*.csv",
    ident_quote: str | None = None,
    staging_column_types: str | None = None,
    properties: dict[str, str] | None = None,
    quarantine_dir: str | None = None,
) -> int:
    """The reference's ACTUAL deployment shape, end-to-end (VERDICT r12
    #6): scheduled invocation → drain new CSV drops → normalize → MERGE
    into an RDBMS (src/lambda_handler.py:38-102 + db_operations.py:52-106),
    composed from the two halves this repo already proves separately —
    the streaming file-source front (exactly-once via the checkpoint's
    offset/commit log) and the set-based JDBC staging+MERGE sink
    (operators/jdbc_upsert.py — one statement per batch, not one
    round-trip per row).

    Exactly-once argument: a replayed micro-batch (crash between the
    MERGE and the checkpoint commit) re-stages the same rows and the
    MERGE converges — idempotent on (date, client_id) — so restart
    semantics are effectively-once end-to-end (pinned against embedded
    Derby in tests/test_jdbc_merge_derby.py). Within one batch the
    last-writer-wins reduction happens BEFORE staging: ANSI MERGE
    refuses a source that matches one target row twice (Derby 10.16
    raises 21000), so the batch is reduced to one winning row per key
    with the parquet sink's own (file, block, seq) order.

    Returns the number of micro-batches that merged rows."""
    from data_ingestion_lambda_spark.operators.jdbc_upsert import (
        upsert_via_jdbc,
    )

    def merge(good: DataFrame, batch_id: int, dates: list) -> bool:
        # The parquet sink's reduction with no stored side: one winner per
        # key, created_at stamped from the batch's updated_at. The default
        # column lists of upsert_via_jdbc then update the payload and
        # updated_at only, so an existing row keeps its created_at (the
        # reference stamps NOW() on insert only, src/db_operations.py).
        upsert_via_jdbc(
            merge_last_writer_wins(None, good, order_cols=ORDER_COLS),
            jdbc_url,
            target_table,
            staging_table=staging_table,
            ident_quote=ident_quote,
            staging_column_types=staging_column_types,
            properties=properties,
        )
        return True

    merged = drain(
        consumption_csv(paced_reader(spark, max_files_per_trigger), source_dir, path_glob),
        checkpoint_dir,
        lambda batch, batch_id: _process_batch(
            spark, batch, batch_id, merge, quarantine_dir, None
        ),
    )
    return len(merged)


def run_ingest_available_now(
    spark: SparkSession,
    paths: IngestPaths,
    max_files_per_trigger: int | None = None,
    path_glob: str = "*.csv",
) -> list[str]:
    """One scheduled 'invocation': drain all new files, then stop.
    Returns the sorted date values THIS invocation wrote (the reference
    handler's ``processed_dates`` response field, lambda_handler.py:96-102
    — a no-op run returns []).

    Re-running later picks up files that landed since — including files for
    OLD dates (late backfill) — because discovery is by file, not by a
    monotonic date checkpoint. This is the semantic fix for SURVEY §1.4.2/6.
    """

    def merge(good: DataFrame, batch_id: int, dates: list) -> list:
        if paths.changes_dir is None:
            return upsert_into_parquet(
                spark, paths.target_dir, good, order_cols=ORDER_COLS, dates=dates
            )
        return upsert_into_parquet_with_cdc(
            spark,
            paths.target_dir,
            good,
            change_key=f"b{batch_id:09d}",
            changes_dir=paths.changes_dir,
            order_cols=ORDER_COLS,
            # audit timestamps refresh on every winning re-send; the
            # feed should capture PAYLOAD changes, not ingest-time churn
            ignore_cols=("updated_at", "created_at"),
            dates=dates,
        )["dates"]

    written = drain(
        consumption_csv(paced_reader(spark, max_files_per_trigger), paths.source_dir, path_glob),
        paths.checkpoint_dir,
        lambda batch, batch_id: _process_batch(
            spark, batch, batch_id, merge, paths.quarantine_dir, paths.log_dir
        ),
    )
    return sorted({str(d) for dates in written for d in dates})
