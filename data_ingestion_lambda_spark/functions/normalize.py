"""Batch normalization: raw CSV strings → typed, audited, quarantined.

Replaces the reference's scattered per-row coercions with one declarative
transform:
- date parse chain (src/s3_processor.py:94-104)  → parse_date_multi
- tokens NaN→0 (src/db_operations.py:90)         → try_cast + coalesce(0)
- audit columns NOW()/TRUE (src/db_operations.py:79) → current_timestamp()
- missing-column / corrupt rows: the reference crashes the whole run via a
  broken tuple-unpack (src/db_operations.py:72, SURVEY §1.4.1); here bad
  rows are *routed to a quarantine DataFrame* and good rows proceed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_ingestion_lambda_spark.functions.dates import parse_date_multi
from data_ingestion_lambda_spark.schemas import CORRUPT_COL, EXPECTED_COLUMNS

REASON_COL = "_reason"
_PARSED_DATE = "_parsed_date"


def _quarantine_reason(df: DataFrame) -> Column:
    has_corrupt = CORRUPT_COL in df.columns
    reasons = []
    if has_corrupt:
        reasons.append(
            F.when(F.col(CORRUPT_COL).isNotNull(), F.lit("malformed_row"))
        )
    reasons.append(F.when(F.col(_PARSED_DATE).isNull(), F.lit("unparseable_date")))
    reasons.append(F.when(F.col("client_id").isNull() | (F.trim("client_id") == ""), F.lit("missing_client_id")))
    return F.coalesce(*reasons)


def stage_consumption(raw: DataFrame) -> DataFrame:
    """Every row of ``raw`` plus its parsed date and its quarantine reason
    (``_reason``, NULL for a good row): the one frame both outputs of
    ``normalize_consumption`` derive from. A caller that reads both
    outputs persists this frame, so the rows are scanned and checked
    once (the streaming ingest does, once per micro-batch)."""
    missing = [c for c in EXPECTED_COLUMNS if c not in raw.columns]
    if missing:
        # Schema contract violation for the whole file — the reference's
        # column-presence check (src/db_operations.py:65-72), made loud.
        raise ValueError(f"input is missing expected columns: {missing}")
    staged = raw.withColumn(_PARSED_DATE, parse_date_multi("date"))
    return staged.withColumn(REASON_COL, _quarantine_reason(staged))


def staged_summary() -> list[Column]:
    """Aggregates over a ``stage_consumption`` frame, one row in all: the
    good rows' sorted distinct ``dates``, their count ``rows_upserted``
    and ``max_date``, and the bad-row count ``rows_quarantined``. Meant
    for an ``Observation`` on the pass that persists the frame."""
    good = F.col(REASON_COL).isNull()
    return [
        F.array_sort(F.collect_set(F.when(good, F.col(_PARSED_DATE)))).alias("dates"),
        F.count_if(good).alias("rows_upserted"),
        F.max(F.when(good, F.col(_PARSED_DATE))).alias("max_date"),
        F.count_if(~good).alias("rows_quarantined"),
    ]


def normalize_consumption(
    raw: DataFrame, ingest_ts: Column | None = None
) -> tuple[DataFrame, DataFrame]:
    """Returns ``(good, quarantined)``.

    ``good`` matches CONSUMPTION_TARGET_SCHEMA minus created_at (the upsert
    sink decides created-vs-updated); ``quarantined`` keeps the raw columns
    plus a ``_reason``. ``raw`` may already be staged
    (``stage_consumption``'s output, persisted by the caller); it is then
    split as it is, not checked again.
    """
    staged = raw if REASON_COL in raw.columns else stage_consumption(raw)
    ts = ingest_ts if ingest_ts is not None else F.current_timestamp()

    quarantined = staged.filter(F.col(REASON_COL).isNotNull()).drop(_PARSED_DATE)
    good = (
        staged.filter(F.col(REASON_COL).isNull())
        .select(
            F.col(_PARSED_DATE).alias("date"),
            F.col("client_id"),
            F.col("client_name"),
            F.col("service_name"),
            F.coalesce(
                F.expr("try_cast(total_consumed_tokens AS BIGINT)"), F.lit(0)
            ).alias("total_consumed_tokens"),
            ts.alias("updated_at"),
            F.lit(True).alias("is_active"),
            # passthrough plumbing columns (e.g. batch ingest order)
            *[
                F.col(c)
                for c in ("_ingest_seq", "_source_file", "_block_start")
                if c in staged.columns
            ],
        )
    )
    return good, quarantined
