"""Maintained drift monitor: N daily histogram applications + read-side
drift must row-equal the one-shot events_distribution_drift over the
same events, and a replayed day must be a bitwise no-op."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_ingestion_lambda_spark.operators.drift_monitor import (
    apply_histogram_batch,
    read_drift,
)
from data_ingestion_lambda_spark.plans import all_specs
from data_ingestion_lambda_spark.sources.catalog import load_table

SF = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(
        (r.event_type, r.day, r.total_cur, r.total_prev, round(r.l1_drift, 12))
        for r in df.collect()
    )


def _apply_all_days(spark, idx, events):
    days = sorted(
        r.d for r in events.select(F.to_date("ts").alias("d")).distinct().collect()
    )
    for d in days:
        batch = events.filter(F.to_date("ts") == F.lit(d))
        apply_histogram_batch(spark, idx, batch, str(d))
    return days


def test_nday_application_equals_oneshot(spark, tmp_path):
    idx = str(tmp_path / "hist_idx")
    events = load_table(spark, SF, "events")
    _apply_all_days(spark, idx, events)
    got = _rows(read_drift(spark, idx))
    want = _rows(all_specs()["events_distribution_drift"].builder(spark, SF))
    assert got == want and len(got) > 0


def test_replay_is_idempotent(spark, tmp_path):
    idx = str(tmp_path / "hist_idx")
    events = load_table(spark, SF, "events")
    days = _apply_all_days(spark, idx, events)
    before = _rows(read_drift(spark, idx))
    # replay a middle day verbatim
    mid = days[len(days) // 2]
    batch = events.filter(F.to_date("ts") == F.lit(mid))
    apply_histogram_batch(spark, idx, batch, str(mid))
    assert _rows(read_drift(spark, idx)) == before


def test_cli_roundtrip(spark, tmp_path):
    """drift-monitor CLI: apply two day-batches, then the read-side
    report must match read_drift on the same index."""
    import json
    import subprocess
    import sys

    idx = str(tmp_path / "hist_idx")
    events = load_table(spark, SF, "events")
    days = sorted(
        r.d for r in events.select(F.to_date("ts").alias("d")).distinct().collect()
    )[:2]
    outs = []
    for d in days:
        src = str(tmp_path / f"batch_{d}")
        events.filter(F.to_date("ts") == F.lit(d)).write.parquet(src)
        r = subprocess.run(
            [
                sys.executable, "-m", "data_ingestion_lambda_spark",
                "drift-monitor", "--index", idx, "--batch", src, "--date", str(d),
            ],
            capture_output=True, text=True, timeout=600,
        )
        assert r.returncode == 0, r.stderr[-2000:]
        outs.append(json.loads(r.stdout.strip().splitlines()[-1]))
    assert outs[-1]["statusCode"] == 200
    # day 2's report sees exactly one drift row pair (day2 vs day1) per type
    got = _rows(read_drift(spark, idx))
    assert outs[-1]["drift_rows"] == len(got) and len(got) > 0


EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def test_stream_ledger_drift_equals_oneshot_with_midday_split(spark, tmp_path):
    """Streaming front: events arrive in two triggers split MID-DAY (the
    case the daily replace_partitions form cannot express), the ledger
    sums the partial-day deltas, and the read-side drift must still
    row-equal the one-shot operator. A third run over the finished
    source is a checkpointed no-op."""
    from data_ingestion_lambda_spark.streaming.events import (
        drift_from_value_ledger,
        stream_value_histogram_to_table,
    )

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    ledger = str(tmp_path / "ledger")
    events = load_table(spark, SF, "events").orderBy("ts", "event_id")
    rows = events.collect()
    # split at an arbitrary row INSIDE a day, not at a day boundary
    cut = len(rows) // 2
    assert rows[cut - 1].ts.date() == rows[cut].ts.date(), "cut must be mid-day"
    spark.createDataFrame(rows[:cut], EVENTS_SCHEMA).write.mode("append").parquet(src)

    def run():
        stream_value_histogram_to_table(
            spark.readStream.schema(EVENTS_SCHEMA).parquet(src), ledger, ckpt
        )

    run()
    spark.createDataFrame(rows[cut:], EVENTS_SCHEMA).write.mode("append").parquet(src)
    run()
    got = _rows(drift_from_value_ledger(spark, ledger))
    want = _rows(all_specs()["events_distribution_drift"].builder(spark, SF))
    assert got == want and len(got) > 0
    import glob
    n_parts = len(glob.glob(f"{ledger}/ingest_batch=*"))
    run()  # finished source: no new batch partitions, same drift
    assert len(glob.glob(f"{ledger}/ingest_batch=*")) == n_parts
    assert _rows(drift_from_value_ledger(spark, ledger)) == want


def test_mixed_day_batch_is_rejected(spark, tmp_path):
    """Day purity: a batch containing any event outside --date must
    raise (silently crediting it to the partition day would corrupt
    both adjacent drift pairs)."""
    import pytest

    idx = str(tmp_path / "hist_idx")
    events = load_table(spark, SF, "events")
    days = sorted(
        r.d for r in events.select(F.to_date("ts").alias("d")).distinct().collect()
    )[:2]
    mixed = events.filter(F.to_date("ts").isin([F.lit(d) for d in days]))
    with pytest.raises(ValueError, match="outside"):
        apply_histogram_batch(spark, idx, mixed, str(days[0]))


def test_null_ts_is_a_purity_violation(spark, tmp_path):
    """ADVICE r8: `to_date(NULL) != date` is NULL, which a bare inequality
    filter drops — NULL-ts events must count as day-purity violations,
    not silently slip into the day's histogram."""
    import pytest

    idx = str(tmp_path / "hist_idx")
    batch = spark.createDataFrame(
        [("view", 1.0, "2025-05-01 10:00:00"), ("view", 2.0, None)],
        "event_type string, value double, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    with pytest.raises(ValueError, match="NULL ts"):
        apply_histogram_batch(spark, idx, batch, "2025-05-01")


def test_empty_batch_lands_zero_and_clears_stale_partition(spark, tmp_path):
    """ADVICE r8: a zero-row batch stages no partition, so the committed-
    partition read used to raise on the nonexistent path; and a replay-
    as-empty must not leave a prior non-empty partition stale."""
    idx = str(tmp_path / "hist_idx")
    schema = "event_type string, value double, ts timestamp"
    empty = spark.createDataFrame([], schema)
    # empty batch on a brand-new index: no raise, zero rows
    assert apply_histogram_batch(spark, idx, empty, "2025-05-01")["hist_rows"] == 0
    # non-empty apply, then replay the same date as empty -> partition gone
    batch = spark.createDataFrame(
        [("view", 1.0, "2025-05-01 10:00:00")], 
        "event_type string, value double, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    assert apply_histogram_batch(spark, idx, batch, "2025-05-01")["hist_rows"] == 1
    assert apply_histogram_batch(spark, idx, empty, "2025-05-01")["hist_rows"] == 0
    import os

    assert not os.path.exists(f"{idx}/date=2025-05-01")
