"""Erasure reach into the table-adjacent artifacts (VERDICT r13 #1):
the SCD2 history (whole-table staged swap), the snapshot versions
(erase-through, manifests regenerated), the CDC change feed and the
ingest quarantine (partition-pruned anti-join rewrite) — plus the
enabling-bug fix: erase_keys on an UNPARTITIONED target that holds data
must REFUSE, never report a rows_erased=0 success."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from data_ingestion_lambda_spark.operators.erasure import (
    erase_keys,
    verify_erasure,
)
from data_ingestion_lambda_spark.operators.scd2 import (
    apply_scd2,
    erase_scd2,
    read_scd2,
    verify_scd2_erasure,
)
from data_ingestion_lambda_spark.operators.snapshot import (
    erase_snapshot_versions,
    list_snapshots,
    read_snapshot,
    snapshot_table,
    verify_snapshot_erasure,
)


def _keys(spark, *ids, col="user_id", typ="bigint"):
    return spark.createDataFrame([(i,) for i in ids], f"{col} {typ}")


# ---------------------------------------------------------------- refusal


def test_erase_refuses_unpartitioned_target_with_data(spark, tmp_path):
    """The silent-success hole (VERDICT r13 'What's wrong' #1): a target
    without date= dirs but WITH data files used to land a rows_erased=0
    tombstone and report done while every subject row survived."""
    path = str(tmp_path / "flat")
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "user_id bigint, v string"
    ).write.parquet(path)
    with pytest.raises(ValueError, match="no date=.* partition dirs"):
        erase_keys(spark, path, _keys(spark, 1), request_id="req-flat")
    with pytest.raises(ValueError, match="compliance hole"):
        verify_erasure(spark, path, _keys(spark, 1))
    # and no tombstone was landed by the refused attempt
    import os

    assert not os.path.exists(f"{path}/_tombstones")


def test_erase_empty_dir_still_graceful(spark, tmp_path):
    """The legitimate empty-table fast path survives the refusal fix."""
    path = str(tmp_path / "empty")
    import os

    os.makedirs(path)
    rep = erase_keys(spark, path, _keys(spark, 1), request_id="req-e")
    assert rep["rows_erased"] == 0
    assert verify_erasure(spark, path, _keys(spark, 1)) == 0


# ---------------------------------------------------------------- SCD2


def _scd2_events(spark, rows):
    return spark.createDataFrame(
        rows, "user_id bigint, ts long, event_id bigint, event_type string"
    ).select(
        "user_id",
        F.timestamp_seconds("ts").alias("ts"),
        "event_id",
        "event_type",
    )


_EVENTS = [
    (1, 100, 1, "free"),
    (1, 200, 2, "paid"),
    (2, 150, 3, "free"),
    (2, 300, 4, "churned"),
    (3, 120, 5, "paid"),
]


def test_scd2_erase_equals_never_ingested(spark, tmp_path):
    """Erasing a subject from the SCD2 history row-equals a history that
    never saw the subject's events — the strongest erasure pin (per-user
    windows make the filter algebra exact)."""
    erased_t = str(tmp_path / "scd2_erased")
    clean_t = str(tmp_path / "scd2_clean")
    apply_scd2(spark, erased_t, _scd2_events(spark, _EVENTS))
    apply_scd2(
        spark, clean_t, _scd2_events(spark, [r for r in _EVENTS if r[0] != 1])
    )

    rep = erase_scd2(spark, erased_t, _keys(spark, 1), request_id="req-s1")
    assert rep["rows_erased"] == 2  # free->paid: two version rows
    assert rep["swapped"]
    assert verify_scd2_erasure(spark, erased_t, _keys(spark, 1)) == 0

    got = sorted(map(tuple, read_scd2(spark, erased_t).collect()))
    want = sorted(map(tuple, read_scd2(spark, clean_t).collect()))
    assert got == want


def test_scd2_erase_replay_and_tombstone_survive_swaps(spark, tmp_path):
    target = str(tmp_path / "scd2")
    apply_scd2(spark, target, _scd2_events(spark, _EVENTS))
    erase_scd2(spark, target, _keys(spark, 2), request_id="req-s2")
    before = sorted(map(tuple, read_scd2(spark, target).collect()))

    # replay: no subject rows left -> no swap, table unchanged, original
    # tombstone evidence kept
    rep = erase_scd2(spark, target, _keys(spark, 2), request_id="req-s2")
    assert rep["rows_erased"] == 0 and not rep["swapped"]
    assert sorted(map(tuple, read_scd2(spark, target).collect())) == before

    # the tombstone ledger is a SIBLING: the next apply's whole-table
    # swap must not destroy the audit evidence
    apply_scd2(spark, target, _scd2_events(spark, [(3, 400, 6, "churned")]))
    tomb = spark.read.parquet(f"{target}.tombstones")
    assert {r.subject_key for r in tomb.collect()} == {"2"}


def test_scd2_erase_missing_key_col_refuses(spark, tmp_path):
    target = str(tmp_path / "scd2")
    apply_scd2(spark, target, _scd2_events(spark, _EVENTS))
    with pytest.raises(ValueError, match="no column"):
        erase_scd2(
            spark, target, _keys(spark, 1, col="doc_id"),
            request_id="r", key_col="doc_id",
        )


# ---------------------------------------------------------------- erase_keys on SCD2 refuses (the original hole)


def test_erase_keys_on_scd2_table_refuses_not_false_success(spark, tmp_path):
    target = str(tmp_path / "scd2")
    apply_scd2(spark, target, _scd2_events(spark, _EVENTS))
    with pytest.raises(ValueError, match="erase_scd2"):
        erase_keys(spark, target, _keys(spark, 1), request_id="req-x")


# ---------------------------------------------------------------- snapshots


def _consumption_batch(spark, rows):
    return spark.createDataFrame(
        [(*r, "2025-05-01 12:00:00") for r in rows],
        "date string, client_id string, total_consumed_tokens long, updated_at string",
    ).withColumn("updated_at", F.to_timestamp("updated_at"))


def test_snapshot_erase_through_all_versions(spark, tmp_path):
    from data_ingestion_lambda_spark.operators.upsert import upsert_into_parquet

    target = str(tmp_path / "t")
    upsert_into_parquet(
        spark,
        target,
        _consumption_batch(
            spark, [("2025-05-01", "A", 100), ("2025-05-01", "B", 10)]
        ),
    )
    snapshot_table(target, spark=spark)
    upsert_into_parquet(
        spark,
        target,
        _consumption_batch(
            spark, [("2025-05-02", "A", 200), ("2025-05-02", "C", 30)]
        ),
    )
    snapshot_table(target, spark=spark)

    keys = _keys(spark, "A", col="client_id", typ="string")
    # live-table erase does NOT reach the snapshots (the documented gap)
    erase_keys(spark, target, keys, request_id="req-v0", key_col="client_id")
    assert verify_snapshot_erasure(spark, target, keys, key_col="client_id") == 3

    rep = erase_snapshot_versions(
        spark, target, keys, request_id="req-v1", key_col="client_id"
    )
    assert rep["rows_erased"] == 3  # v1 has A once, v2 has A twice
    assert rep["versions"] == {"1": 1, "2": 2}
    assert verify_snapshot_erasure(spark, target, keys, key_col="client_id") == 0

    # other subjects still time-travel-readable in every version
    assert {r.client_id for r in read_snapshot(spark, target, 1).collect()} == {"B"}
    assert {r.client_id for r in read_snapshot(spark, target, 2).collect()} == {
        "B",
        "C",
    }

    # manifests regenerated: file list reflects the rewrite, and the
    # immutability break is recorded auditable
    for s in list_snapshots(target, spark=spark):
        assert [e["request_id"] for e in s["erasures"]] == ["req-v1"]
        assert s["n_files"] == len(s["files"])

    # replay: nothing to erase, manifests keep the single erasure record
    rep2 = erase_snapshot_versions(
        spark, target, keys, request_id="req-v1", key_col="client_id"
    )
    assert rep2["rows_erased"] == 0
    for s in list_snapshots(target, spark=spark):
        assert len(s["erasures"]) == 1


# ---------------------------------------------------------------- CDC feed


def test_cdc_feed_erase(spark, tmp_path):
    from data_ingestion_lambda_spark.operators.upsert import (
        upsert_into_parquet_with_cdc,
    )

    target = str(tmp_path / "t")
    for key, rows in (
        ("b1", [("2025-05-01", "A", 100), ("2025-05-01", "B", 10)]),
        ("b2", [("2025-05-01", "A", 200), ("2025-05-02", "C", 30)]),
    ):
        upsert_into_parquet_with_cdc(
            spark,
            target,
            _consumption_batch(spark, rows),
            change_key=key,
            order_cols=["total_consumed_tokens"],
        )
    feed_dir = f"{target}/_changes"
    keys = _keys(spark, "A", col="client_id", typ="string")
    assert verify_erasure(spark, feed_dir, keys, key_col="client_id") == 2

    rep = erase_keys(
        spark, feed_dir, keys, request_id="req-c1", key_col="client_id"
    )
    assert rep["rows_erased"] == 2
    assert sorted(rep["affected_dates"]) == ["b1", "b2"]
    assert verify_erasure(spark, feed_dir, keys, key_col="client_id") == 0
    # the other subjects' change records survive in their partitions
    feed = spark.read.parquet(feed_dir)
    assert {r.client_id for r in feed.collect()} == {"B", "C"}


# ---------------------------------------------------------------- quarantine


def test_quarantine_erase_by_batch_partition(spark, tmp_path):
    from data_ingestion_lambda_spark.streaming.ingest import _write_batch_partition

    qdir = str(tmp_path / "quarantine")
    _write_batch_partition(
        spark,
        qdir,
        spark.createDataFrame(
            [("bad-1", "A"), ("bad-2", "B")], "date string, client_id string"
        ),
        3,
    )
    _write_batch_partition(
        spark,
        qdir,
        spark.createDataFrame([("bad-3", "A")], "date string, client_id string"),
        4,
    )
    keys = _keys(spark, "A", col="client_id", typ="string")
    rep = erase_keys(
        spark, qdir, keys, request_id="req-q1",
        key_col="client_id", part_col="_batch_id",
    )
    assert rep["rows_erased"] == 2
    # batch 4 held only the subject: its partition is deleted outright
    assert rep["partitions_deleted"] == 1 and rep["partitions_rewritten"] == 1
    assert (
        verify_erasure(
            spark, qdir, keys, key_col="client_id", part_col="_batch_id"
        )
        == 0
    )
    q = spark.read.parquet(qdir)
    assert [(r.client_id, r._batch_id) for r in q.collect()] == [("B", 3)]


# ---------------------------------------------------------------- CLI


def test_cli_erase_scd2_roundtrip(spark, tmp_path, capsys):
    from data_ingestion_lambda_spark.cli import main

    target = str(tmp_path / "scd2")
    apply_scd2(spark, target, _scd2_events(spark, _EVENTS))
    kf = str(tmp_path / "keys")
    _keys(spark, 1).write.parquet(kf)

    rc = main(
        ["erase", "--target", target, "--keys", kf, "--store", "scd2",
         "--request-id", "req-cli-1"]
    )
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0
    assert out["rows_erased"] == 2 and out["residual_rows"] == 0

    rc = main(["erase", "--target", target, "--keys", kf, "--store", "scd2",
               "--verify-only"])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and out["residual_rows"] == 0


def test_cli_erase_quarantine_roundtrip(spark, tmp_path, capsys):
    from data_ingestion_lambda_spark.cli import main
    from data_ingestion_lambda_spark.streaming.ingest import _write_batch_partition

    qdir = str(tmp_path / "q")
    _write_batch_partition(
        spark,
        qdir,
        spark.createDataFrame(
            [("bad", "A"), ("bad", "B")], "date string, client_id string"
        ),
        1,
    )
    kf = str(tmp_path / "keys")
    _keys(spark, "A", col="client_id", typ="string").write.parquet(kf)

    rc = main(
        ["erase", "--target", qdir, "--keys", kf, "--store", "quarantine",
         "--request-id", "req-cli-q"]
    )
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0
    assert out["rows_erased"] == 1 and out["residual_rows"] == 0


def test_cli_unknown_store_lists_artifacts(tmp_path, capsys):
    from data_ingestion_lambda_spark.cli import main

    rc = main(
        ["erase", "--target", str(tmp_path / "x"), "--keys",
         str(tmp_path / "k"), "--store", "nope", "--request-id", "r"]
    )
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 1
    assert "scd2" in out["message"] and "snapshots" in out["message"]
