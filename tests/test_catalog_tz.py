"""A foreign session with a non-UTC timezone must still get UTC-correct
day/window boundaries from catalog frames: load_table pins the session to
UTC (logged when it clobbers a real non-UTC setting) because catalog
frames are lazy and TZ-sensitive expressions resolve at execution time."""

from __future__ import annotations

import warnings

from pyspark.sql import functions as F

from data_ingestion_lambda_spark.sources.catalog import load_table

SF = "/root/testdata/sf0.001"


def _day_counts(spark):
    df = load_table(spark, SF, "events")
    return sorted(
        (str(r["d"]), r["n"])
        for r in df.groupBy(F.to_date("ts").alias("d")).agg(F.count("*").alias("n")).collect()
    )


def test_non_utc_session_gets_utc_boundaries_and_warns(spark):
    baseline = _day_counts(spark)  # session already UTC-pinned

    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            shifted = _day_counts(spark)
        assert shifted == baseline, "non-UTC session must not shift day boundaries"
        assert any("overriding session timeZone" in str(w.message) for w in caught)
        # the pin persists (lazy frames need it at execution time)
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def test_normalize_event_ts_relabels_every_generator_encoding(spark):
    """One rewrite serves the catalog, the CLI's --batch reads and the
    session/attribution stream bodies: epoch-ns LONG (TIMESTAMP(NANOS)
    under nanosAsLong) truncates to µs exactly — the value exceeds 2^53,
    so a double round trip would move it — TIMESTAMP_NTZ relabels to a
    UTC TIMESTAMP, and a TIMESTAMP passes through untouched."""
    import datetime as dt

    from pyspark.sql.types import TimestampType

    from data_ingestion_lambda_spark.sources.catalog import normalize_event_ts

    micros = 1_700_000_000_123_457
    wall = dt.datetime(2023, 11, 14, 22, 13, 20, 123457)
    nanos = spark.createDataFrame([(1, micros * 1000 + 999)], "event_id long, ts long")
    ntz = spark.createDataFrame([(1, wall)], "event_id long, ts timestamp_ntz")
    ltz = spark.createDataFrame([(1, wall)], "event_id long, ts timestamp")

    assert normalize_event_ts(ltz) is ltz
    for df in (nanos, ntz, ltz):
        out = normalize_event_ts(df)
        assert out.schema["ts"].dataType == TimestampType()
        assert out.columns == ["event_id", "ts"]
        assert out.select(F.unix_micros("ts")).first()[0] == micros
