"""Maintained heavy-hitter store: the merged ledger of per-batch MG
summaries must carry the one-shot sketch's guarantee over the TOTAL
stream — every true heavy hitter present with a counter in
[true − N/(K+1), true] — for daily splits, scrambled arrival, and
replay; the reserved total row is refused as a real item name."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_ingestion_lambda_spark.operators.hh_store import (
    N_ROW,
    apply_hh_batch,
    read_heavy_hitters,
)
from data_ingestion_lambda_spark.plans.profiling import _HH_K, _hh_exact_counts
from data_ingestion_lambda_spark.sources.catalog import load_table

SF = "/root/testdata/sf0.001"


def _items_with_day(spark):
    ev = load_table(spark, SF, "events")
    item = (
        F.when(
            F.col("event_id") % 10 < 3,
            F.concat(F.lit("hot_"), (F.col("event_id") % 2).cast("string")),
        )
        .otherwise(F.concat(F.lit("c"), F.col("event_id").cast("string")))
        .alias("item")
    )
    return ev.select(item, F.to_date("ts").cast("string").alias("d"))


def _check_guarantee(spark, idx, items_all):
    merged = {r.item: r for r in read_heavy_hitters(spark, idx).collect()}
    assert len(merged) <= _HH_K
    exact = _hh_exact_counts(items_all.select("item")).collect()
    assert len(exact) == 2
    n_total = exact[0]["n"]
    bound = n_total // (_HH_K + 1)
    for row in exact:
        assert row.item in merged, f"true HH {row.item} lost in the merge"
        got = merged[row.item]
        assert got.n_total == n_total
        assert got.undercount_bound == bound
        assert row.cnt - bound <= got.count_lower <= row.cnt


def test_daily_ledger_carries_oneshot_guarantee(spark, tmp_path):
    idx = str(tmp_path / "hh_idx")
    items = _items_with_day(spark)
    days = sorted(r.d for r in items.select("d").distinct().collect())
    for d in days:
        apply_hh_batch(spark, idx, items.filter(F.col("d") == d).select("item"), d)
    _check_guarantee(spark, idx, items)


def test_scrambled_arrival_and_replay(spark, tmp_path):
    idx = str(tmp_path / "hh_idx")
    items = _items_with_day(spark)
    days = sorted(r.d for r in items.select("d").distinct().collect())
    scrambled = days[1::2] + days[0::2][::-1]
    for d in scrambled:
        apply_hh_batch(spark, idx, items.filter(F.col("d") == d).select("item"), d)
    # replay a middle day — partition overwrite, same guarantee
    mid = days[len(days) // 2]
    apply_hh_batch(spark, idx, items.filter(F.col("d") == mid).select("item"), mid)
    _check_guarantee(spark, idx, items)


def test_reserved_item_name_refused(spark, tmp_path):
    idx = str(tmp_path / "hh_idx")
    bad = spark.createDataFrame([(N_ROW,), ("x",)], "item string")
    with pytest.raises(ValueError, match="reserved"):
        apply_hh_batch(spark, idx, bad, "2024-01-01")


def test_stream_ledger_carries_guarantee_under_midstream_split(spark, tmp_path):
    """Streaming front: items arrive in two arbitrary triggers; the
    batch-id-keyed sketch ledger must carry the same guarantee as the
    one-shot sketch over everything — mergeability makes the trigger
    split irrelevant."""
    from data_ingestion_lambda_spark.streaming.events import (
        stream_heavy_hitters_to_table,
    )

    items = _items_with_day(spark).select("item")
    rows = items.collect()
    cut = len(rows) // 2
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    idx = str(tmp_path / "ledger")
    spark.createDataFrame(rows[:cut], "item string").write.mode("append").parquet(src)

    def run():
        stream_heavy_hitters_to_table(
            spark.readStream.schema("item string").parquet(src), idx, ckpt
        )

    run()
    spark.createDataFrame(rows[cut:], "item string").write.mode("append").parquet(src)
    run()
    _check_guarantee(spark, idx, _items_with_day(spark))


def test_cli_roundtrip(spark, tmp_path):
    """hh-store CLI: two daily applies then a read; the persisted report
    must match the library read and carry the guarantee fields."""
    import json

    from data_ingestion_lambda_spark.cli import main

    items = _items_with_day(spark)
    days = sorted(r.d for r in items.select("d").distinct().collect())[:2]
    idx = str(tmp_path / "hh_idx")
    for d in days:
        bdir = str(tmp_path / f"batch_{d}")
        items.filter(F.col("d") == d).select("item").write.parquet(bdir)
        assert (
            main(["hh-store", "--index", idx, "--batch", bdir, "--date", d]) == 0
        )
    out = str(tmp_path / "report")
    assert main(["hh-store", "--index", idx, "--report-out", out]) == 0
    got = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    want = sorted(tuple(r) for r in read_heavy_hitters(spark, idx).collect())
    assert got == want and len(got) > 0


def test_stream_reserved_item_name_refused(spark, tmp_path):
    """ADVICE r8: the streaming front must refuse a real item named
    '__n__' exactly like apply_hh_batch — otherwise it silently inflates
    n_total and the undercount bound read_heavy_hitters reports."""
    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from data_ingestion_lambda_spark.streaming.events import (
        stream_heavy_hitters_to_table,
    )

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [("a",), ("__n__",), ("b",)], "item string"
    ).write.parquet(src)
    with pytest.raises(StreamingQueryException, match="reserved"):
        stream_heavy_hitters_to_table(
            spark.readStream.schema("item string").parquet(src),
            str(tmp_path / "ledger"),
            str(tmp_path / "ckpt"),
        )
