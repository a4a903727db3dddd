"""Event-time streaming semantics: watermark drop of late data, streaming
dedup, session windows, and the applyInPandasWithState custom operator.

Each test feeds the stream in two *runs* (availableNow + shared
checkpoint): files added between runs arrive as later triggers, so
watermark state, dedup state, and user state genuinely persist and evict
across micro-batches — the restart-resume path, not a single-batch
simulation."""

from __future__ import annotations

from datetime import datetime

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from data_ingestion_lambda_spark.streaming.events import (
    stream_dedup_within_watermark,
    stream_sessionize,
    stream_stream_interval_join,
    stream_tumbling_counts,
    stream_user_profile,
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


def _ts(h: int, m: int = 0) -> datetime:
    return datetime(2025, 6, 1, h, m)


def _write_batch(spark, src_dir: str, name: str, rows: list[tuple]) -> None:
    spark.createDataFrame(rows, EVENTS_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{src_dir}/{name}")


def _run(spark, transform, src_dir: str, ckpt: str, out: str, mode: str) -> None:
    stream = spark.readStream.schema(EVENTS_SCHEMA).option(
        "recursiveFileLookup", "true"
    ).parquet(src_dir)
    writer = transform(stream).writeStream.outputMode(mode)
    if mode == "update":
        # parquet sink is append-only; land update-mode output via foreachBatch
        writer = writer.foreachBatch(
            lambda batch, _id: batch.write.mode("append").parquet(out)
        )
    else:
        writer = writer.format("parquet").option("path", out)
    q = (
        writer.option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)


def _paths(tmp_path):
    return (
        str(tmp_path / "src"),
        str(tmp_path / "ckpt"),
        str(tmp_path / "out"),
    )


def test_tumbling_watermark_drops_late(spark, tmp_path):
    src, ckpt, out = _paths(tmp_path)
    # run 1: two events in [10:00,11:00) + one at 13:00 that advances the
    # watermark to 12:00, finalizing the 10 o'clock window (append mode)
    _write_batch(
        spark,
        src,
        "b1",
        [
            (1, _ts(10, 5), 1, "A", 1.0, "{}"),
            (2, _ts(10, 20), 1, "A", 2.0, "{}"),
            (3, _ts(13, 0), 2, "C", 5.0, "{}"),
        ],
    )
    run = lambda: _run(
        spark,
        lambda s: stream_tumbling_counts(s, "1 hour", "1 hour"),
        src,
        ckpt,
        out,
        "append",
    )
    run()
    # run 2: a LATE event for the already-finalized window (must be
    # dropped) + one at 15:30 whose no-data batch pushes the watermark to
    # 14:30, finalizing [13,14)
    _write_batch(
        spark,
        src,
        "b2",
        [
            (4, _ts(10, 40), 1, "A", 100.0, "{}"),
            (5, _ts(15, 30), 2, "C", 7.0, "{}"),
        ],
    )
    run()
    got = {
        (r["window_start"].hour, r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.read.parquet(out).collect()
    }
    assert got[(10, "A")] == (2, 3.0)  # late event NOT added
    assert got[(13, "C")] == (1, 5.0)
    assert (15, "C") not in got  # watermark (14:30) hasn't closed it


def test_dedup_within_watermark_across_batches(spark, tmp_path):
    src, ckpt, out = _paths(tmp_path)
    _write_batch(
        spark,
        src,
        "b1",
        [
            (1, _ts(10, 0), 1, "A", 1.0, "{}"),
            (1, _ts(10, 1), 1, "A", 1.0, "{}"),  # dup within batch
            (2, _ts(10, 5), 1, "B", 2.0, "{}"),
        ],
    )
    run = lambda: _run(
        spark,
        lambda s: stream_dedup_within_watermark(s, ["event_id"], "2 hours"),
        src,
        ckpt,
        out,
        "append",
    )
    run()
    # dup arriving in a LATER trigger, still inside the watermark horizon
    _write_batch(spark, src, "b2", [(2, _ts(10, 30), 1, "B", 2.0, "{}"),
                                    (6, _ts(11, 0), 2, "C", 3.0, "{}")])
    run()
    ids = sorted(r["event_id"] for r in spark.read.parquet(out).collect())
    assert ids == [1, 2, 6]


def test_sessionize_merges_and_splits(spark, tmp_path):
    src, ckpt, out = _paths(tmp_path)
    _write_batch(
        spark,
        src,
        "b1",
        [
            (1, _ts(10, 0), 1, "A", 1.0, "{}"),
            (2, _ts(10, 10), 1, "A", 1.0, "{}"),
            (3, _ts(10, 20), 1, "A", 1.0, "{}"),
            (4, _ts(12, 0), 1, "A", 9.0, "{}"),  # > 30 min gap → new session
            (5, _ts(23, 0), 2, "Z", 0.0, "{}"),  # advances watermark far ahead
        ],
    )
    _run(
        spark,
        lambda s: stream_sessionize(s, "30 minutes", "1 hour"),
        src,
        ckpt,
        out,
        "append",
    )
    rows = sorted(
        (r["user_id"], r["session_start"].hour, r["n_events"])
        for r in spark.read.parquet(out).collect()
        if r["user_id"] == 1
    )
    # one merged 3-event session at 10:00 (end 10:50), one singleton at 12:00
    assert rows == [(1, 10, 3), (1, 12, 1)]


def test_stream_stream_interval_join(spark, tmp_path):
    src, ckpt, out = _paths(tmp_path)
    # impressions (type A) joined to conversions (type B) within 1 hour
    _write_batch(
        spark,
        src,
        "b1",
        [
            (1, _ts(10, 0), 1, "A", 0.0, "{}"),  # impression
            (2, _ts(10, 30), 1, "B", 9.9, "{}"),  # converts (within 1h) ✓
            (3, _ts(12, 0), 1, "B", 5.0, "{}"),  # too late after event 1 ✗
            (4, _ts(10, 15), 2, "B", 1.0, "{}"),  # no impression for user 2 ✗
        ],
    )
    _run(
        spark,
        lambda s: stream_stream_interval_join(
            s.filter(F.col("event_type") == "A"),
            s.filter(F.col("event_type") == "B"),
            within="1 hour",
            watermark="2 hours",
        ),
        src,
        ckpt,
        out,
        "append",
    )
    rows = spark.read.parquet(out).collect()
    assert [(r["left_event_id"], r["right_event_id"], r["right_value"]) for r in rows] == [
        (1, 2, 9.9)
    ]


def test_user_profile_state_accumulates(spark, tmp_path):
    src, ckpt, out = _paths(tmp_path)
    _write_batch(
        spark,
        src,
        "b1",
        [
            (1, _ts(10, 0), 1, "A", 1.0, "{}"),
            (2, _ts(10, 30), 1, "B", 5.0, "{}"),
        ],
    )
    run = lambda: _run(
        spark, stream_user_profile, src, ckpt, out, "update"
    )
    run()
    _write_batch(spark, src, "b2", [(3, _ts(11, 0), 1, "C", 3.0, "{}")])
    run()
    rows = spark.read.parquet(out).filter(F.col("user_id") == 1).collect()
    latest = max(rows, key=lambda r: r["n_events"])
    assert latest["n_events"] == 3
    assert latest["total_value"] == pytest.approx(9.0)
    assert latest["max_value"] == pytest.approx(5.0)
    assert latest["last_event_type"] == "C"
    assert latest["last_ts"] == _ts(11, 0)


def test_rollup_to_table_updates_in_place(spark, tmp_path):
    from data_ingestion_lambda_spark.streaming.events import stream_rollup_to_table

    src, ckpt, out = _paths(tmp_path)

    def run():
        stream = spark.readStream.schema(EVENTS_SCHEMA).option(
            "recursiveFileLookup", "true"
        ).parquet(src)
        stream_rollup_to_table(stream, out, ckpt, "1 hour", "1 hour")

    # run 1: two A-events in [10,11) and the 13:00 event that advances the
    # watermark; update mode emits both windows into the rollup table.
    _write_batch(
        spark,
        src,
        "b1",
        [
            (1, _ts(10, 5), 1, "A", 1.0, "{}"),
            (2, _ts(10, 20), 1, "A", 2.0, "{}"),
            (3, _ts(13, 0), 2, "C", 5.0, "{}"),
        ],
    )
    run()
    got1 = {
        (r["window_start"].hour, r["event_type"]): r["n_events"]
        for r in spark.read.parquet(out).collect()
    }
    assert got1 == {(10, "A"): 2, (13, "C"): 1}

    # run 2: another C in [13,14) — the table row must be UPDATED in
    # place (no duplicate key); a late 10:40 event is beyond the watermark
    # and must not change the finalized window; 15:30 opens a new window.
    _write_batch(
        spark,
        src,
        "b2",
        [
            (4, _ts(10, 40), 1, "A", 100.0, "{}"),
            (5, _ts(13, 10), 2, "C", 6.0, "{}"),
            (6, _ts(15, 30), 2, "C", 7.0, "{}"),
        ],
    )
    run()
    rows = spark.read.parquet(out).collect()
    got2 = {(r["window_start"].hour, r["event_type"]): r["n_events"] for r in rows}
    assert got2 == {(10, "A"): 2, (13, "C"): 2, (15, "C"): 1}
    assert len(rows) == 3, "rollup must merge, not append revisions"

    # run 3: no new files — replay must leave the table bit-identical.
    run()
    again = {
        (r["window_start"].hour, r["event_type"]): r["n_events"]
        for r in spark.read.parquet(out).collect()
    }
    assert again == got2


def test_stream_static_enrich_broadcasts_dim(spark, tmp_path):
    from data_ingestion_lambda_spark.streaming.events import stream_static_enrich

    src, ckpt, out = _paths(tmp_path)
    dim = spark.createDataFrame(
        [("A", "alpha"), ("B", "beta")], "event_type string, category string"
    )
    _write_batch(
        spark,
        src,
        "b1",
        [
            (1, _ts(10, 0), 1, "A", 1.0, "{}"),
            (2, _ts(10, 5), 2, "B", 2.0, "{}"),
            (3, _ts(10, 9), 3, "C", 3.0, "{}"),  # no dim row -> left join NULL
        ],
    )
    _run(spark, lambda s: stream_static_enrich(s, dim), src, ckpt, out, "append")
    rows = {r["event_id"]: r["category"] for r in spark.read.parquet(out).collect()}
    assert rows == {1: "alpha", 2: "beta", 3: None}

    # Batch twin of the same function must plan as a broadcast hash join
    # (stream side unshuffled) — the property that makes it stateless and
    # scan-parallel on a cluster.
    batch = spark.createDataFrame(
        [(1, "A")], "event_id long, event_type string"
    )
    plan = stream_static_enrich(batch, dim)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_rollup_merge_survives_stale_replay(spark, tmp_path):
    """A replay from an older/rebuilt checkpoint re-emits a window with a
    SMALLER n_events than the table already holds. Payload order cols
    (n_events) outrank batch-ness in the LWW merge, so the stored maximum
    must survive — the property that makes the continuous-aggregate MERGE
    idempotent under at-least-once emissions (operators/upsert.py)."""
    from data_ingestion_lambda_spark.operators.upsert import upsert_into_parquet

    out = str(tmp_path / "rollup")
    cols = "window_start timestamp, event_type string, n_events long, sum_value double"

    def batch(n_events: int, sum_value: float):
        return (
            spark.createDataFrame([(_ts(10), "A", n_events, sum_value)], cols)
            .withColumn("date", F.to_date("window_start"))
            .withColumn("updated_at", F.col("window_start"))
        )

    merge = lambda b: upsert_into_parquet(
        spark, out, b, keys=["window_start", "event_type"], order_cols=["n_events"]
    )
    merge(batch(5, 50.0))            # current truth: 5 events
    merge(batch(3, 30.0))            # stale replayed emission: 3 events
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 1
    assert rows[0]["n_events"] == 5, "stale replay must not regress the stored count"
    assert rows[0]["sum_value"] == pytest.approx(50.0)

    merge(batch(7, 70.0))            # newer emission still advances the window
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 1 and rows[0]["n_events"] == 7


def test_funnel_state_progresses_across_triggers(spark, tmp_path):
    from data_ingestion_lambda_spark.streaming.events import stream_funnel_progress

    src, ckpt, out = _paths(tmp_path)
    # trigger 1: user 1 views then clicks; user 2 purchases with no view
    _write_batch(
        spark,
        src,
        "b1",
        [
            (1, _ts(10, 0), 1, "view", 1.0, "{}"),
            (2, _ts(10, 30), 1, "click", 1.0, "{}"),
            (3, _ts(10, 5), 2, "purchase", 9.0, "{}"),
        ],
    )
    run = lambda: _run(spark, stream_funnel_progress, src, ckpt, out, "update")
    run()
    # trigger 2: user 1 completes; a pre-view click for user 2 stays invalid
    _write_batch(
        spark,
        src,
        "b2",
        [
            (4, _ts(11, 0), 1, "purchase", 5.0, "{}"),
            (5, _ts(10, 10), 2, "click", 1.0, "{}"),
        ],
    )
    run()
    rows = spark.read.parquet(out).collect()
    u1 = max((r for r in rows if r.user_id == 1), key=lambda r: r.stage)
    assert u1.stage == 3
    assert (u1.first_view, u1.first_click, u1.first_purchase) == (
        _ts(10, 0),
        _ts(10, 30),
        _ts(11, 0),
    )
    u2 = max((r for r in rows if r.user_id == 2), key=lambda r: r.stage)
    assert u2.stage == 0 and u2.first_view is None


def test_funnel_single_trigger_matches_batch_twin(spark, tmp_path):
    """One availableNow trigger over the real sf0.001 events must reproduce
    the batch events_funnel_users rows exactly (ts-ordered fold == the
    batch window semantics)."""
    from data_ingestion_lambda_spark.plans import all_specs
    from data_ingestion_lambda_spark.streaming.events import stream_funnel_progress

    sf = "/root/testdata/sf0.001"
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")
    src = str(tmp_path / "src")
    # stage the single-file table into a directory: the file-stream source
    # lists directories, not bare files
    spark.read.parquet(f"{sf}/events.parquet").write.parquet(src)
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(src)
    q = (
        stream_funnel_progress(stream)
        .writeStream.outputMode("update")
        .foreachBatch(lambda b, _id: b.write.mode("append").parquet(out))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.user_id: (r.first_view, r.first_click, r.first_purchase, r.stage)
        for r in spark.read.parquet(out).collect()
    }
    want = {
        r.user_id: (r.first_view, r.first_click, r.first_purchase, r.stage)
        for r in all_specs()["events_funnel_users"].builder(spark, sf).collect()
    }
    assert got == want


@pytest.mark.skipif(
    not __import__(
        "data_ingestion_lambda_spark.streaming.events", fromlist=["tws_runtime_available"]
    ).tws_runtime_available(),
    reason="transformWithStateInPandas needs google.protobuf (absent here)",
)
def test_user_stats_state_accumulates_across_triggers(spark, tmp_path):
    """transformWithStateInPandas ValueState: trigger 2's emission continues
    trigger 1's counts and integer-cent totals."""
    from data_ingestion_lambda_spark.streaming.events import stream_user_stats

    src, ckpt, out = _paths(tmp_path)
    _write_batch(
        spark,
        src,
        "b1",
        [
            (1, _ts(10, 0), 1, "view", 1.25, "{}"),
            (2, _ts(10, 30), 1, "purchase", 9.99, "{}"),
        ],
    )
    run = lambda: _run(spark, stream_user_stats, src, ckpt, out, "update")
    run()
    _write_batch(spark, src, "b2", [(3, _ts(11, 0), 1, "purchase", 0.01, "{}")])
    run()
    rows = sorted(
        (r for r in spark.read.parquet(out).collect() if r.user_id == 1),
        key=lambda r: r.n_events,
    )
    assert [(r.n_events, r.n_purchases, r.value_cents) for r in rows] == [
        (2, 1, 125 + 999),
        (3, 2, 125 + 999 + 1),
    ]
    assert rows[-1].last_ts == _ts(11, 0)


@pytest.mark.skipif(
    not __import__(
        "data_ingestion_lambda_spark.streaming.events", fromlist=["tws_runtime_available"]
    ).tws_runtime_available(),
    reason="transformWithStateInPandas needs google.protobuf (absent here)",
)
def test_user_stats_single_trigger_matches_batch_twin(spark, tmp_path):
    """One availableNow trigger over the real sf0.001 events must reproduce
    the batch events_user_stats rows exactly (integer-cent accumulation
    makes the fold associative, so stream == batch bit-for-bit)."""
    from data_ingestion_lambda_spark.plans import all_specs
    from data_ingestion_lambda_spark.streaming.events import stream_user_stats

    sf = "/root/testdata/sf0.001"
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")
    src = str(tmp_path / "src")
    spark.read.parquet(f"{sf}/events.parquet").write.parquet(src)
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(src)
    q = (
        stream_user_stats(stream)
        .writeStream.outputMode("update")
        .foreachBatch(lambda b, _id: b.write.mode("append").parquet(out))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.user_id: (r.n_events, r.n_purchases, r.value_cents, r.last_ts)
        for r in spark.read.parquet(out).collect()
    }
    want = {
        r.user_id: (r.n_events, r.n_purchases, r.value_cents, r.last_ts)
        for r in all_specs()["events_user_stats"].builder(spark, sf).collect()
    }
    assert got == want


class _FakeValueState:
    """Driver-side stand-in for a TWS ValueState: exercises the processor's
    fold logic without the protobuf state-server runtime."""

    def __init__(self):
        self._v = None

    def exists(self):
        return self._v is not None

    def get(self):
        return self._v

    def update(self, v):
        self._v = v


def test_user_stats_processor_fold_semantics():
    """The TWS processor's per-batch fold: counts, purchase counts, exact
    integer-cent totals, and max-ts accumulate across calls — verified
    directly against a fake state so the logic is tested even where the
    protobuf runtime is absent."""
    from data_ingestion_lambda_spark.streaming.events import _make_user_stats_processor

    proc = _make_user_stats_processor()
    proc._stats = _FakeValueState()
    b1 = pd.DataFrame(
        {
            "ts": [pd.Timestamp("2025-01-01 10:00"), pd.Timestamp("2025-01-01 10:30")],
            "event_type": ["view", "purchase"],
            "value": [1.25, 9.99],
        }
    )
    (out1,) = list(proc.handleInputRows((1,), iter([b1]), None))
    assert out1.iloc[0]["n_events"] == 2
    assert out1.iloc[0]["n_purchases"] == 1
    assert out1.iloc[0]["value_cents"] == 125 + 999  # floor(9.99*100+0.5) == 999
    b2 = pd.DataFrame(
        {
            "ts": [pd.Timestamp("2025-01-01 11:00")],
            "event_type": ["purchase"],
            "value": [0.01],
        }
    )
    (out2,) = list(proc.handleInputRows((1,), iter([b2]), None))
    assert out2.iloc[0]["n_events"] == 3
    assert out2.iloc[0]["n_purchases"] == 2
    assert out2.iloc[0]["value_cents"] == 125 + 999 + 1
    assert out2.iloc[0]["last_ts"] == pd.Timestamp("2025-01-01 11:00")
    assert proc._stats.get() == (3, 2, 1125, pd.Timestamp("2025-01-01 11:00").value // 1_000)


def test_user_stats_gate_raises_without_protobuf(spark):
    from data_ingestion_lambda_spark.streaming.events import (
        stream_user_stats,
        tws_runtime_available,
    )

    if tws_runtime_available():
        pytest.skip("protobuf present: the gated path does not apply")
    with pytest.raises(NotImplementedError, match="protobuf"):
        # the gate fires before any plan is built, so any frame works
        stream_user_stats(spark.range(1))


def test_interarrival_gaps_single_trigger_matches_batch_lag(spark, tmp_path):
    """One availableNow trigger over the real sf0.001 events must emit
    exactly the batch lag-window deltas (the gap multiset the
    interarrival percentile lane consumes)."""
    from pyspark.sql import Window
    from data_ingestion_lambda_spark.streaming.events import stream_interarrival_gaps

    sf = "/root/testdata/sf0.001"
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")
    src = str(tmp_path / "src")
    spark.read.parquet(f"{sf}/events.parquet").write.parquet(src)
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(src)
    q = (
        stream_interarrival_gaps(stream)
        .writeStream.outputMode("append")
        .foreachBatch(lambda b, _id: b.write.mode("append").parquet(out))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r.user_id, r.gap_us) for r in spark.read.parquet(out).collect()
    )
    from data_ingestion_lambda_spark.sources.catalog import load_table

    e = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    want = sorted(
        (r.user_id, r.gap_us)
        for r in e.select(
            "user_id", (us - F.lag(us).over(w)).cast("long").alias("gap_us")
        )
        .filter(F.col("gap_us").isNotNull())
        .collect()
    )
    assert got == want


def test_interarrival_gaps_continue_across_triggers(spark, tmp_path):
    """The stored last-timestamp bridges triggers: the first event of
    trigger 2 yields a gap against trigger 1's last event, and no gap is
    ever re-emitted (append semantics)."""
    from data_ingestion_lambda_spark.streaming.events import stream_interarrival_gaps

    src, ckpt, out = _paths(tmp_path)
    _write_batch(
        spark,
        src,
        "b1",
        [
            (1, _ts(10, 0), 1, "view", 1.0, "{}"),
            (2, _ts(10, 30), 1, "click", 1.0, "{}"),
        ],
    )
    run = lambda: _run(spark, stream_interarrival_gaps, src, ckpt, out, "append")
    run()
    _write_batch(spark, src, "b2", [(3, _ts(11, 15), 1, "purchase", 5.0, "{}")])
    run()
    got = sorted(r.gap_us for r in spark.read.parquet(out).collect())
    assert got == [30 * 60 * 1_000_000, 45 * 60 * 1_000_000]


def test_gap_histogram_ledger_matches_batch_histogram(spark, tmp_path):
    """End-to-end streaming percentile input: gaps extracted statefully,
    bucket counts landed per micro-batch, ledger summed — must equal the
    batch lag-window histogram over the same events; and a second
    trigger adds ONLY the new gaps (the boundary gap lands exactly
    once)."""
    from data_ingestion_lambda_spark.sources.catalog import load_table
    from data_ingestion_lambda_spark.streaming.events import (
        read_gap_histogram,
        stream_gap_histogram_to_table,
    )

    sf = "/root/testdata/sf0.001"
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    target = str(tmp_path / "hist_table")
    spark.read.parquet(f"{sf}/events.parquet").write.parquet(f"{src}/b1")

    def run():
        stream = spark.readStream.schema(EVENTS_SCHEMA).option(
            "recursiveFileLookup", "true"
        ).parquet(src)
        stream_gap_histogram_to_table(stream, target, ckpt)

    run()

    def batch_hist(e):
        from pyspark.sql import Window

        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        us = F.unix_micros(F.col("ts"))
        return sorted(
            (r.gap_s, r.cnt)
            for r in e.select((us - F.lag(us).over(w)).cast("long").alias("gap_us"))
            .filter(F.col("gap_us").isNotNull())
            .groupBy(F.expr("gap_us div 1000000").alias("gap_s"))
            .agg(F.count("*").cast("long").alias("cnt"))
            .collect()
        )

    got = sorted((r.gap_s, r.cnt) for r in read_gap_histogram(spark, target).collect())
    assert got == batch_hist(load_table(spark, sf, "events"))

    # trigger 2: one user's whole history again, shifted a YEAR later
    # (strictly after everything in trigger 1 — the in-order-across-
    # triggers contract) via new event ids — only the NEW gaps
    # (including the cross-trigger boundary gap) may enter the ledger
    e1 = load_table(spark, sf, "events")
    shifted = (
        e1.filter(F.col("user_id") == e1.select("user_id").first()[0])
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 365 DAYS"))
        .withColumn("event_id", F.col("event_id") + F.lit(10_000_000))
    )
    shifted.write.parquet(f"{src}/b2")
    run()
    union = e1.unionByName(
        spark.read.parquet(f"{src}/b2").select(*e1.columns)
    )
    got2 = sorted((r.gap_s, r.cnt) for r in read_gap_histogram(spark, target).collect())
    assert got2 == batch_hist(union)


def test_gap_ledger_compaction_preserves_reads_and_idempotence(spark, tmp_path):
    """compact_gap_ledger folds committed batch partitions into the base:
    reads are identical before/after, a second compaction is a no-op,
    and a post-compaction trigger lands NEW batches alongside the base."""
    import os

    from data_ingestion_lambda_spark.streaming.events import (
        compact_gap_ledger,
        read_gap_histogram,
        stream_gap_histogram_to_table,
    )

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    target = str(tmp_path / "hist_table")
    _write_batch(
        spark,
        src,
        "b1",
        [
            (1, _ts(10, 0), 1, "view", 1.0, "{}"),
            (2, _ts(10, 30), 1, "click", 1.0, "{}"),
            (3, _ts(11, 0), 1, "view", 1.0, "{}"),
        ],
    )

    def run():
        stream = spark.readStream.schema(EVENTS_SCHEMA).option(
            "recursiveFileLookup", "true"
        ).parquet(src)
        stream_gap_histogram_to_table(stream, target, ckpt)

    run()
    before = sorted(
        (r.gap_s, r.cnt) for r in read_gap_histogram(spark, target).collect()
    )
    assert before == [(1800, 2)]

    assert compact_gap_ledger(spark, target, ckpt) >= 1
    after = sorted(
        (r.gap_s, r.cnt) for r in read_gap_histogram(spark, target).collect()
    )
    assert after == before
    assert compact_gap_ledger(spark, target, ckpt) == 0  # idempotent no-op

    # a new trigger after compaction adds only its delta
    _write_batch(spark, src, "b2", [(4, _ts(12, 0), 1, "view", 1.0, "{}")])
    run()
    got = sorted((r.gap_s, r.cnt) for r in read_gap_histogram(spark, target).collect())
    assert got == [(1800, 2), (3600, 1)]

    # stranded staging refuses loudly
    os.makedirs(f"{target}/.compact-staging")
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="stranded"):
        compact_gap_ledger(spark, target)


def test_fold_gaps_sorts_across_arrow_chunks():
    """Chunk-order independence: applyInPandasWithState gives no ordering
    guarantee across the Arrow chunks of one group within a micro-batch,
    so the fold must materialize + sort the whole group — a per-chunk
    sort would emit wrong (negative) gaps whenever a user's batch rows
    span multiple chunks. Feed the SAME rows as one chunk and as two
    chunks delivered newest-first; both must yield the ordered gaps."""
    from data_ingestion_lambda_spark.streaming.events import _fold_gaps

    class _GapState:
        """GroupState lookalike: exists/get are PROPERTIES there."""

        def __init__(self):
            self._v = None

        @property
        def exists(self):
            return self._v is not None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = tuple(v)

    rows = pd.DataFrame(
        {
            "ts": [
                pd.Timestamp("2025-01-01 10:00"),
                pd.Timestamp("2025-01-01 10:30"),
                pd.Timestamp("2025-01-01 11:30"),
                pd.Timestamp("2025-01-01 11:45"),
            ],
            "event_id": [1, 2, 3, 4],
        }
    )

    def run(chunks):
        st = _GapState()
        (out,) = list(_fold_gaps((7,), iter(chunks), st))
        return list(out["gap_us"]), st.get

    one_chunk, st1 = run([rows])
    # later half first — the adversarial chunk order
    two_chunks, st2 = run([rows.iloc[2:], rows.iloc[:2]])
    assert one_chunk == [30 * 60 * 1_000_000, 60 * 60 * 1_000_000, 15 * 60 * 1_000_000]
    assert two_chunks == one_chunk
    assert st1 == st2
    assert all(g > 0 for g in two_chunks)


def test_ledger_quantiles_equal_registered_hist_operator(spark, tmp_path):
    """The last composition in the streaming-percentile story: percentiles
    READ from the (compacted) gap ledger — through the same factored
    quantile stage — must row-equal the registered
    ``events_interarrival_hist`` operator over the same events. This
    proves the stream → ledger → compact → quantile path yields the
    batch operator's numbers, not merely an equal histogram."""
    from data_ingestion_lambda_spark.plans.events_queries import (
        events_interarrival_hist,
    )
    from data_ingestion_lambda_spark.streaming.events import (
        compact_gap_ledger,
        gap_quantiles_from_ledger,
        stream_gap_histogram_to_table,
    )

    sf = "/root/testdata/sf0.001"
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    target = str(tmp_path / "hist_table")
    spark.read.parquet(f"{sf}/events.parquet").write.parquet(f"{src}/b1")

    stream = spark.readStream.schema(EVENTS_SCHEMA).option(
        "recursiveFileLookup", "true"
    ).parquet(src)
    stream_gap_histogram_to_table(stream, target, ckpt)

    want = [tuple(r) for r in events_interarrival_hist(spark, sf).collect()]

    # pre-compaction: summed batch partitions feed the quantile stage
    got_raw = [tuple(r) for r in gap_quantiles_from_ledger(spark, target).collect()]
    assert got_raw == want

    # post-compaction: identical rows from the folded base partition
    assert compact_gap_ledger(spark, target, ckpt) >= 1
    got_compacted = [
        tuple(r) for r in gap_quantiles_from_ledger(spark, target).collect()
    ]
    assert got_compacted == want
    # and the operator's schema comes through the ledger path verbatim
    assert gap_quantiles_from_ledger(spark, target).columns == [
        "n_gaps", "p50_s", "p90_s", "p99_s", "n_within_session_gap",
    ]


def test_fold_funnel_sorts_across_arrow_chunks():
    """Chunk-order independence for the strictly-after funnel chain: a
    view delivered in a LATER chunk than a click it should unlock must
    still produce the click's stage — the per-chunk-sort draft rejected
    the click forever (it processed chunks in arrival order, and a
    rejected candidate is never revisited). Feed the same rows as one
    chunk and as two chunks delivered newest-first; both must reach
    stage 3 with identical timestamps."""
    from data_ingestion_lambda_spark.streaming.events import _fold_funnel

    class _St:
        def __init__(self):
            self._v = None

        @property
        def exists(self):
            return self._v is not None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = tuple(v)

    rows = pd.DataFrame(
        {
            "ts": [
                pd.Timestamp("2025-01-01 10:00"),  # view  — the unlocker
                pd.Timestamp("2025-01-01 10:30"),  # click
                pd.Timestamp("2025-01-01 11:00"),  # purchase
            ],
            "event_id": [1, 2, 3],
            "event_type": ["view", "click", "purchase"],
        }
    )

    def run(chunks):
        st = _St()
        (out,) = list(_fold_funnel((7,), iter(chunks), st))
        return out.iloc[0]["stage"], st.get

    stage_one, st1 = run([rows])
    # click+purchase chunk arrives BEFORE the view chunk
    stage_two, st2 = run([rows.iloc[1:], rows.iloc[:1]])
    assert stage_one == 3
    assert stage_two == stage_one
    assert st1 == st2


def test_markov_transitions_single_trigger_matches_batch(spark, tmp_path):
    """One availableNow trigger over the real sf0.001 events, rolled up
    to transition counts, must equal the registered batch operator's
    n_trans matrix (and therefore its probabilities)."""
    from data_ingestion_lambda_spark.plans import all_specs
    from data_ingestion_lambda_spark.streaming.events import stream_markov_transitions

    sf = "/root/testdata/sf0.001"
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")
    src = str(tmp_path / "src")
    spark.read.parquet(f"{sf}/events.parquet").write.parquet(src)
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(src)
    q = (
        stream_markov_transitions(stream)
        .writeStream.outputMode("append")
        .foreachBatch(lambda b, _id: b.write.mode("append").parquet(out))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r.from_type, r.to_type, r["count"])
        for r in spark.read.parquet(out)
        .groupBy("from_type", "to_type")
        .count()
        .collect()
    )
    want = sorted(
        (r.from_type, r.to_type, r.n_trans)
        for r in all_specs()["events_markov_transitions"].builder(spark, sf).collect()
    )
    assert got == want


def test_markov_transitions_continue_across_triggers(spark, tmp_path):
    """The stored last-type bridges triggers: trigger 2's first event
    pairs with trigger 1's last event, and no adjacency re-emits."""
    from data_ingestion_lambda_spark.streaming.events import stream_markov_transitions

    src, ckpt, out = _paths(tmp_path)
    _write_batch(
        spark,
        src,
        "b1",
        [
            (1, _ts(10, 0), 1, "view", 1.0, "{}"),
            (2, _ts(10, 30), 1, "click", 1.0, "{}"),
        ],
    )
    run = lambda: _run(spark, stream_markov_transitions, src, ckpt, out, "append")
    run()
    _write_batch(spark, src, "b2", [(3, _ts(11, 15), 1, "purchase", 5.0, "{}")])
    run()
    got = sorted(
        (r.from_type, r.to_type) for r in spark.read.parquet(out).collect()
    )
    assert got == [("click", "purchase"), ("view", "click")]


def test_attribution_single_trigger_matches_batch_twin(spark, tmp_path):
    """One availableNow trigger over the real sf0.001 events must
    reproduce the batch events_attribution_last_touch rows exactly
    (per-user two-long click state == the batch running struct max)."""
    from data_ingestion_lambda_spark.plans import all_specs
    from data_ingestion_lambda_spark.streaming.events import (
        stream_attribution_last_touch,
    )

    sf = "/root/testdata/sf0.001"
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")
    src = str(tmp_path / "src")
    spark.read.parquet(f"{sf}/events.parquet").write.parquet(src)
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(src)
    q = (
        stream_attribution_last_touch(stream)
        .writeStream.outputMode("append")
        .foreachBatch(lambda b, _id: b.write.mode("append").parquet(out))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.purchase_id: (r.user_id, r.purchase_cents, r.click_id, r.gap_us, r.attributed)
        for r in spark.read.parquet(out).collect()
    }
    want = {
        r.purchase_id: (r.user_id, r.purchase_cents, r.click_id, r.gap_us, r.attributed)
        for r in all_specs()["events_attribution_last_touch"].builder(spark, sf).collect()
    }
    assert got == want and len(got) > 0


def test_attribution_state_spans_triggers(spark, tmp_path):
    """A click in trigger 1 credits a purchase arriving in trigger 2 —
    the state genuinely persists across micro-batches."""
    from data_ingestion_lambda_spark.streaming.events import (
        stream_attribution_last_touch,
    )

    src, ckpt, out = (str(tmp_path / d) for d in ("src", "ckpt", "out"))

    def rows(data):
        return spark.createDataFrame(data, EVENTS_SCHEMA)

    def run():
        stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(src)
        q = (
            stream_attribution_last_touch(stream)
            .writeStream.outputMode("append")
            .foreachBatch(lambda b, _id: b.write.mode("append").parquet(out))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    t0 = datetime(2025, 5, 1, 10, 0, 0)
    t1 = datetime(2025, 5, 2, 10, 0, 0)
    rows([(10, t0, 1, "click", 1.0, None)]).write.mode("append").parquet(src)
    run()
    rows([(11, t1, 1, "purchase", 3.5, None)]).write.mode("append").parquet(src)
    run()
    got = {r.purchase_id: r for r in spark.read.parquet(out).collect()}
    assert got[11].attributed and got[11].click_id == 10
    assert got[11].gap_us == 86400 * 1_000_000


def test_attribution_null_purchase_value_survives(spark, tmp_path):
    """A purchase with NULL value (the events schema allows it) arrives
    in the fold as NaN; the query must NOT die — it emits the batch
    twin's NULL cents, with attribution itself unaffected (r8 advice:
    math.floor(NaN) used to raise and kill the stream)."""
    from data_ingestion_lambda_spark.streaming.events import (
        stream_attribution_last_touch,
    )

    src, ckpt, out = (str(tmp_path / d) for d in ("src", "ckpt", "out"))
    t0 = datetime(2025, 5, 1, 10, 0, 0)
    t1 = datetime(2025, 5, 1, 11, 0, 0)
    spark.createDataFrame(
        [(10, t0, 1, "click", 1.0, None), (11, t1, 1, "purchase", None, None)],
        EVENTS_SCHEMA,
    ).write.parquet(src)
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(src)
    q = (
        stream_attribution_last_touch(stream)
        .writeStream.outputMode("append")
        .foreachBatch(lambda b, _id: b.write.mode("append").parquet(out))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r.purchase_id: r for r in spark.read.parquet(out).collect()}
    assert got[11].attributed and got[11].click_id == 10
    assert got[11].purchase_cents is None
