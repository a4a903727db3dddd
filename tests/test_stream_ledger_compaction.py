"""All-fold compaction for the remaining ingest_batch-keyed streamed
ledgers (value-histogram / moment / heavy-hitter) — the gap ledger's
``_compact_batch_ledger`` discipline generalized (r11): reads row-equal
before/after, a second compaction is a no-op, a post-compaction trigger
lands NEW batches alongside the ``ingest_batch=-1`` base, and a
stranded staging dir refuses. These ledgers key by RAW integer batch
ids (lexicographically unordered), which is why they take the all-fold
form instead of base_fold's keep_from horizon.
"""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def _ts(d: int, h: int) -> datetime:
    return datetime(2025, 6, d, h, 0)


def _write(spark, src, name, rows, schema=EVENTS_SCHEMA):
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{src}/{name}")


def _ledger_dirs(tmp, target):
    import os

    return sorted(
        n
        for n in os.listdir(target)
        if n.startswith("ingest_batch=") and not n.startswith(".")
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_value_histogram_ledger_compaction(spark, tmp_path):
    from data_ingestion_lambda_spark.streaming.events import (
        compact_value_histogram_ledger,
        drift_from_value_ledger,
        read_value_histogram,
        stream_value_histogram_to_table,
    )

    src, ckpt, target = (
        str(tmp_path / d) for d in ("src", "ckpt", "ledger")
    )

    def run():
        stream = (
            spark.readStream.schema(EVENTS_SCHEMA)
            .option("recursiveFileLookup", "true")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        stream_value_histogram_to_table(stream, target, ckpt)

    _write(spark, src, "b1", [(1, _ts(1, 10), 1, "view", 4.2, "{}"),
                              (2, _ts(1, 11), 2, "click", 1.0, "{}")])
    _write(spark, src, "b2", [(3, _ts(2, 10), 1, "view", 4.2, "{}")])
    run()
    assert len(_ledger_dirs(tmp_path, target)) == 2
    before = _rows(read_value_histogram(spark, target))
    before_drift = _rows(drift_from_value_ledger(spark, target))

    assert compact_value_histogram_ledger(spark, target, ckpt) == 2
    assert _ledger_dirs(tmp_path, target) == ["ingest_batch=-1"]
    assert _rows(read_value_histogram(spark, target)) == before
    assert _rows(drift_from_value_ledger(spark, target)) == before_drift
    assert compact_value_histogram_ledger(spark, target, ckpt) == 0

    # a post-compaction trigger lands alongside the base
    _write(spark, src, "b3", [(4, _ts(3, 10), 3, "view", 9.9, "{}")])
    run()
    assert len(_ledger_dirs(tmp_path, target)) == 2
    got = dict(
        ((r[0], r[1], r[2]), r[3])
        for r in _rows(read_value_histogram(spark, target))
    )
    assert sum(got.values()) == 4  # all four events counted exactly once


def test_moment_ledger_compaction(spark, tmp_path):
    from data_ingestion_lambda_spark.streaming.events import (
        compact_moment_ledger,
        features_from_moment_ledger,
        run_feature_store_available_now,
    )

    src, ckpt, target = (
        str(tmp_path / d) for d in ("src", "ckpt", "ledger")
    )
    _write(spark, src, "b1", [(1, _ts(1, 10), 1, "view", 2.0, "{}"),
                              (2, _ts(1, 12), 1, "purchase", 30.0, "{}")])
    _write(spark, src, "b2", [(3, _ts(2, 9), 2, "click", 1.0, "{}"),
                              (4, _ts(2, 10), 1, "view", 2.0, "{}")])
    assert (
        run_feature_store_available_now(
            spark, src, target, ckpt, max_files_per_trigger=1
        )
        == 2
    )
    before = _rows(features_from_moment_ledger(spark, target))

    assert compact_moment_ledger(spark, target, ckpt) == 2
    assert _ledger_dirs(tmp_path, target) == ["ingest_batch=-1"]
    assert _rows(features_from_moment_ledger(spark, target)) == before
    assert compact_moment_ledger(spark, target, ckpt) == 0

    # user 1's moments keep merging across the base and a new delta
    _write(spark, src, "b3", [(5, _ts(3, 10), 1, "purchase", 10.0, "{}")])
    run_feature_store_available_now(spark, src, target, ckpt)
    after = {r[0]: r for r in features_from_moment_ledger(spark, target).collect()}
    assert after[1]["n_purchases"] == 2


def test_hh_stream_ledger_compaction(spark, tmp_path):
    from data_ingestion_lambda_spark.operators.hh_store import (
        read_heavy_hitters,
    )
    from data_ingestion_lambda_spark.streaming.events import (
        compact_hh_stream_ledger,
        stream_heavy_hitters_to_table,
    )

    src, ckpt, target = (
        str(tmp_path / d) for d in ("src", "ckpt", "ledger")
    )
    items = StructType([StructField("item", StringType())])
    _write(spark, src, "b1", [("hot",)] * 12 + [("warm",)] * 3, items)
    _write(spark, src, "b2", [("hot",)] * 5 + [("cold",)], items)

    def run():
        stream = (
            spark.readStream.schema(items)
            .option("recursiveFileLookup", "true")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        stream_heavy_hitters_to_table(stream, target, ckpt)

    run()
    assert len(_ledger_dirs(tmp_path, target)) == 2
    before = _rows(read_heavy_hitters(spark, target))

    assert compact_hh_stream_ledger(spark, target, ckpt) == 2
    assert _ledger_dirs(tmp_path, target) == ["ingest_batch=-1"]
    assert _rows(read_heavy_hitters(spark, target)) == before
    assert compact_hh_stream_ledger(spark, target, ckpt) == 0

    _write(spark, src, "b3", [("hot",)] * 2, items)
    run()
    after = {r[0]: r[1] for r in _rows(read_heavy_hitters(spark, target))}
    assert after["hot"] >= 17  # counter lower bound keeps accumulating


def test_uncommitted_land_is_never_folded(spark, tmp_path):
    """The double-count window (ADVICE r11): a batch that LANDED in the
    ledger but whose checkpoint commit never happened WILL be replayed,
    so compaction must not fold it into the base (the replay would then
    re-land it as a fresh partition and count twice). With the
    checkpoint given, only ids at or below the committed front fold;
    without it, the newest land is excluded as possibly uncommitted."""
    from data_ingestion_lambda_spark.streaming.events import (
        compact_value_histogram_ledger,
        read_value_histogram,
        stream_value_histogram_to_table,
    )

    src, ckpt, target = (str(tmp_path / d) for d in ("src", "ckpt", "ledger"))
    _write(spark, src, "b1", [(1, _ts(1, 10), 1, "view", 4.2, "{}")])
    _write(spark, src, "b2", [(2, _ts(2, 10), 2, "click", 1.0, "{}")])
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    stream_value_histogram_to_table(stream, target, ckpt)
    assert len(_ledger_dirs(tmp_path, target)) == 2

    # simulate the crash window: batch 9 landed, commit never written
    spark.createDataFrame(
        [("view", _ts(3, 0).date(), 0, 1)], "event_type string, day date, bucket int, cnt long"
    ).write.parquet(f"{target}/ingest_batch=9")
    before = _rows(read_value_histogram(spark, target))

    # committed front is 1 → batch 9 stays un-folded and replayable
    assert compact_value_histogram_ledger(spark, target, ckpt) == 2
    assert _ledger_dirs(tmp_path, target) == [
        "ingest_batch=-1",
        "ingest_batch=9",
    ]
    assert _rows(read_value_histogram(spark, target)) == before

    # no checkpoint: conservative all-fold-minus-max — 9 is the max, so
    # after the fold above only the base and 9 remain → nothing to fold
    assert compact_value_histogram_ledger(spark, target) == 0
    assert _ledger_dirs(tmp_path, target) == [
        "ingest_batch=-1",
        "ingest_batch=9",
    ]


def test_all_fold_minus_max_without_checkpoint(spark, tmp_path):
    """Without a checkpoint the newest landed batch id is excluded from
    the fold set (it may sit in the landed-but-uncommitted window);
    reads stay row-equal and the survivor folds on the NEXT pass once a
    newer batch supersedes it."""
    from data_ingestion_lambda_spark.streaming.events import (
        compact_value_histogram_ledger,
        read_value_histogram,
    )

    target = str(tmp_path / "ledger")
    for b in range(3):
        spark.createDataFrame(
            [("view", _ts(b + 1, 0).date(), 0, 1)],
            "event_type string, day date, bucket int, cnt long",
        ).write.parquet(f"{target}/ingest_batch={b}")
    before = _rows(read_value_histogram(spark, target))

    assert compact_value_histogram_ledger(spark, target) == 2
    assert _ledger_dirs(tmp_path, target) == [
        "ingest_batch=-1",
        "ingest_batch=2",
    ]
    assert _rows(read_value_histogram(spark, target)) == before
    # batch 2 folds once batch 3 lands behind it
    spark.createDataFrame(
        [("view", _ts(4, 0).date(), 0, 1)],
        "event_type string, day date, bucket int, cnt long",
    ).write.parquet(f"{target}/ingest_batch=3")
    assert compact_value_histogram_ledger(spark, target) == 1
    assert _ledger_dirs(tmp_path, target) == [
        "ingest_batch=-1",
        "ingest_batch=3",
    ]


def test_batch_ledger_fold_due_policy(spark, tmp_path):
    """The dir-count WHEN-policy for the ingest_batch ledgers: due only
    above the threshold, not due again right after a fold, and the
    fold it gates preserves reads (the all-fold's own pins cover the
    rest)."""
    from data_ingestion_lambda_spark.streaming.events import (
        batch_ledger_fold_due,
        compact_value_histogram_ledger,
        read_value_histogram,
    )

    target = str(tmp_path / "ledger")
    assert batch_ledger_fold_due(spark, target, 2) is False  # absent dir
    for b in range(3):
        spark.createDataFrame(
            [("view", _ts(b + 1, 0).date(), 0, 1)],
            "event_type string, day date, bucket int, cnt long",
        ).write.parquet(f"{target}/ingest_batch={b}")
    assert batch_ledger_fold_due(spark, target, 3) is False
    assert batch_ledger_fold_due(spark, target, 2) is True
    before = _rows(read_value_histogram(spark, target))
    compact_value_histogram_ledger(spark, target)  # all-fold minus max
    assert _rows(read_value_histogram(spark, target)) == before
    assert batch_ledger_fold_due(spark, target, 2) is False


def test_stranded_staging_refuses_streamed(spark, tmp_path):
    from data_ingestion_lambda_spark.streaming.events import (
        compact_value_histogram_ledger,
    )

    target = tmp_path / "ledger"
    for part in ("ingest_batch=-1", "ingest_batch=0", "ingest_batch=1"):
        (target / part).mkdir(parents=True)
    (target / ".compact-staging").mkdir()
    before = sorted(p.name for p in target.iterdir())
    with pytest.raises(RuntimeError, match="stranded") as refused:
        compact_value_histogram_ledger(spark, str(target))
    # the message names the staging dir and the base partition to rename
    # it to, and the refused run deleted no ledger partition
    assert str(target / ".compact-staging") in str(refused.value)
    assert "ingest_batch=-1" in str(refused.value)
    assert sorted(p.name for p in target.iterdir()) == before
