"""Additive schema evolution on the parquet upsert target
(operators/upsert.py::_align_schemas).

Contract: a new batch column widens the table (old rows read NULL); a
column the producer stopped sending survives with NULLs on new rows;
a type change on a shared column is rejected loudly. Both public upserts
share one merge core; every test runs through each of them.
"""

from __future__ import annotations

import itertools

import pytest

from pyspark.sql import functions as F

from data_ingestion_lambda_spark.operators.upsert import (
    upsert_into_parquet,
    upsert_into_parquet_with_cdc,
)

KEYS = ["date", "client_code"]

_CHANGE_KEYS = itertools.count()


def _upsert_with_cdc(spark, target, batch, keys):
    return upsert_into_parquet_with_cdc(
        spark, target, batch, change_key=f"c{next(_CHANGE_KEYS)}", keys=keys
    )


each_upsert = pytest.mark.parametrize(
    "upsert", [upsert_into_parquet, _upsert_with_cdc], ids=["plain", "cdc"]
)


def _mk(spark, rows, schema):
    return spark.createDataFrame(rows, schema).withColumn(
        "updated_at", F.to_timestamp("updated_at")
    )


_BASE = "date string, client_code string, total_consumed_tokens long, updated_at string"
_WIDE = (
    "date string, client_code string, total_consumed_tokens long, "
    "region string, updated_at string"
)


@each_upsert
def test_new_column_widens_table_and_old_rows_read_null(spark, tmp_path, upsert):
    target = str(tmp_path / "t")
    upsert(
        spark, target, _mk(spark, [("2025-06-01", "A", 1, "2025-06-01 00:00:00")], _BASE),
        keys=KEYS,
    )
    upsert(
        spark,
        target,
        _mk(spark, [("2025-06-02", "B", 2, "eu", "2025-06-02 00:00:00")], _WIDE),
        keys=KEYS,
    )
    got = {
        r.client_code: (r.total_consumed_tokens, r.region)
        for r in spark.read.option("mergeSchema", "true").parquet(target).collect()
    }
    assert got == {"A": (1, None), "B": (2, "eu")}


@each_upsert
def test_evolved_column_updates_through_the_merge(spark, tmp_path, upsert):
    """The same key re-merged after evolution: the new column's value wins
    per LWW, proving evolution composes with the merge, not just append."""
    target = str(tmp_path / "t")
    upsert(
        spark, target, _mk(spark, [("2025-06-01", "A", 1, "2025-06-01 00:00:00")], _BASE),
        keys=KEYS,
    )
    upsert(
        spark,
        target,
        _mk(spark, [("2025-06-01", "A", 5, "us", "2025-06-01 01:00:00")], _WIDE),
        keys=KEYS,
    )
    rows = spark.read.option("mergeSchema", "true").parquet(target).collect()
    assert len(rows) == 1 and (rows[0].total_consumed_tokens, rows[0].region) == (5, "us")


@each_upsert
def test_dropped_column_is_preserved_with_nulls(spark, tmp_path, upsert):
    target = str(tmp_path / "t")
    upsert(
        spark,
        target,
        _mk(spark, [("2025-06-01", "A", 1, "eu", "2025-06-01 00:00:00")], _WIDE),
        keys=KEYS,
    )
    # the producer stops sending region; same date so the merge must align
    upsert(
        spark, target, _mk(spark, [("2025-06-01", "B", 2, "2025-06-01 01:00:00")], _BASE),
        keys=KEYS,
    )
    got = {r.client_code: r.region for r in spark.read.parquet(target).collect()}
    assert got == {"A": "eu", "B": None}, "history must never be dropped by a producer change"


@each_upsert
def test_type_change_is_rejected_loudly(spark, tmp_path, upsert):
    target = str(tmp_path / "t")
    upsert(
        spark, target, _mk(spark, [("2025-06-01", "A", 1, "2025-06-01 00:00:00")], _BASE),
        keys=KEYS,
    )
    bad = "date string, client_code string, total_consumed_tokens string, updated_at string"
    with pytest.raises(ValueError, match="incompatible schema evolution"):
        upsert(
            spark,
            target,
            _mk(spark, [("2025-06-01", "A", "one", "2025-06-01 01:00:00")], bad),
            keys=KEYS,
        )


@each_upsert
def test_new_dates_keep_the_whole_table_schema(spark, tmp_path, upsert):
    """A batch whose dates are all new still meets the stored schema of
    the whole table, not only that of the dates it touches: a type change
    on a shared column is rejected, and a column the producer stopped
    sending is written, as NULL, into the new date's own files. A merge
    that reads only the touched partitions must keep both."""
    target = str(tmp_path / "t")
    upsert(
        spark, target, _mk(spark, [("2025-06-01", "A", 1, "2025-06-01 00:00:00")], _BASE),
        keys=KEYS,
    )
    upsert(
        spark,
        target,
        _mk(spark, [("2025-06-02", "B", 2, "eu", "2025-06-02 00:00:00")], _WIDE),
        keys=KEYS,
    )
    bad = "date string, client_code string, total_consumed_tokens string, updated_at string"
    with pytest.raises(ValueError, match="incompatible schema evolution"):
        upsert(
            spark,
            target,
            _mk(spark, [("2025-06-03", "C", "three", "2025-06-03 00:00:00")], bad),
            keys=KEYS,
        )
    assert not (tmp_path / "t" / "date=2025-06-03").exists()

    upsert(
        spark, target, _mk(spark, [("2025-06-04", "D", 4, "2025-06-04 00:00:00")], _BASE),
        keys=KEYS,
    )
    own = spark.read.parquet(f"{target}/date=2025-06-04")
    assert "region" in own.columns
    assert [(r.client_code, r.region) for r in own.collect()] == [("D", None)]
