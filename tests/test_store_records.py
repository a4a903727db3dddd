"""The maintained-store records (operators/store_record.py) and the one CLI
handler and stream runner built from them.

The first tests run without a Spark job: ``cli.get_spark`` is replaced
by a function that returns a stand-in, so a command ends in a refusal
before the stand-in is used. The stream tests pin the refusals a store
runs before its stream starts: they raise as themselves, and the stream
never starts (no checkpoint is written)."""

from __future__ import annotations

import dataclasses
import os

import pytest

from data_ingestion_lambda_spark import cli
from data_ingestion_lambda_spark.operators import store_record as records
from data_ingestion_lambda_spark.operators.layout import batch_key, key_column

STORES = sorted(records.STORE_MODULES)


def _subparser(name: str):
    sub = next(
        a for a in cli.build_parser()._actions if a.dest == "cmd"
    )
    return sub.choices[name]


def _dir_args(store) -> list[str]:
    return [f"--{store.dir_flag}", "idx"]


def test_records_name_their_subcommands_and_flags():
    for name in STORES:
        store = records.store_record(name)
        assert store.name == name
        dests = {a.dest for a in _subparser(name)._actions}
        flags = [store.dir_flag, store.fold_flag, *store.needs]
        flags += [a.flag for a in store.actions if a.flag is not None]
        assert set(flags) <= dests, (name, set(flags) - dests)
        if store.stream_schema is not None or store.stream is not None:
            assert "stream_source" in dests, name


@pytest.mark.parametrize("exc", [ValueError, RuntimeError])
@pytest.mark.parametrize("name", STORES)
def test_manual_fold_refusal_exits_with_the_subcommand(name, exc, monkeypatch):
    def refuse(spark, index_dir, keep_from):
        raise exc(f"bad keep_from key {keep_from!r}")

    real = records.store_record
    monkeypatch.setattr(
        cli, "store_record", lambda cmd: dataclasses.replace(real(cmd), compact=refuse)
    )
    monkeypatch.setattr(cli, "get_spark", lambda *a, **kw: object())
    store = real(name)
    fold = "--" + store.fold_flag.replace("_", "-")
    with pytest.raises(SystemExit) as refused:
        cli.main([name, *_dir_args(store), fold, "x/y"])
    assert str(refused.value.code) == f"{name}: bad keep_from key 'x/y'"


class _SessionStart(Exception):
    pass


def _no_session(*args, **kwargs):
    raise _SessionStart


@pytest.mark.parametrize("name", ["cms-store", "bloom-store", "dsir-store", "touch-store"])
def test_sketch_store_cli_keys_are_iso_dates(name, monkeypatch):
    """The sketch stores' applies take a stream's ``b<id>`` key too; their
    ``--date`` stays an ISO date, refused before any session starts."""
    monkeypatch.setattr(cli, "get_spark", _no_session)
    with pytest.raises(SystemExit) as refused:
        cli.main([name, "--index", "idx", "--batch", "b.parquet", "--date", "b000000005"])
    assert str(refused.value.code).startswith(f"{name}: --date must be an ISO date")
    with pytest.raises(_SessionStart):
        cli.main([name, "--index", "idx", "--batch", "b.parquet", "--date", "2025-01-01"])


def test_key_forms():
    assert batch_key(5) == "b000000005"
    assert key_column(batch_key(5)) == "ingest_batch"
    assert key_column("2025-01-01") == "date"
    for bad in ("b5", "0000-base", "2025-13-01", "b0000000050"):
        with pytest.raises(ValueError):
            key_column(bad)


def _refused_before_start(run, ckpt: str, match: str) -> None:
    with pytest.raises(ValueError, match=match):
        run()
    assert not os.path.exists(ckpt), "the stream started"


def test_stream_refusals_run_before_the_stream_starts(spark, tmp_path):
    """An ANN index without a trained quantizer, a bloom store sized
    otherwise, a dsir store of another target and a date-keyed sketch
    store refuse a stream before it starts."""
    from data_ingestion_lambda_spark.operators.bloom_store import apply_bloom_batch
    from data_ingestion_lambda_spark.operators.cms_store import apply_cms_batch
    from data_ingestion_lambda_spark.operators.dsir_store import apply_dsir_batch
    from data_ingestion_lambda_spark.operators.touch_store import apply_touch_batch
    from data_ingestion_lambda_spark.streaming import index_streams as fronts

    src = str(tmp_path / "src")
    docs = spark.createDataFrame(
        [(1, "en", "alpha beta"), (2, "de", "gamma delta")],
        "doc_id bigint, lang string, text string",
    )
    docs.write.parquet(src)

    def idx(name):
        return str(tmp_path / name)

    def ckpt(name):
        return str(tmp_path / f"ckpt_{name}")

    _refused_before_start(
        lambda: fronts.run_ann_append_available_now(spark, src, idx("ann"), ckpt("ann")),
        ckpt("ann"),
        "train_index must freeze the quantizer",
    )
    apply_bloom_batch(spark, idx("bloom"), docs, "2025-01-01")
    _refused_before_start(
        lambda: fronts.run_bloom_update_available_now(
            spark, src, idx("bloom"), ckpt("bloom"), m=8192
        ),
        ckpt("bloom"),
        "keyed by date=",
    )
    bloom_stream = idx("bloom_stream")
    fronts.run_bloom_update_available_now(spark, src, bloom_stream, ckpt("bloom_ok"))
    _refused_before_start(
        lambda: fronts.run_bloom_update_available_now(
            spark, src, bloom_stream, ckpt("bloom_resized"), m=8192
        ),
        ckpt("bloom_resized"),
        "sized",
    )
    dsir_stream = idx("dsir_stream")
    fronts.run_dsir_update_available_now(spark, src, dsir_stream, ckpt("dsir_ok"))
    _refused_before_start(
        lambda: fronts.run_dsir_update_available_now(
            spark, src, dsir_stream, ckpt("dsir_de"), target_lang="de"
        ),
        ckpt("dsir_de"),
        "one target",
    )
    items = spark.createDataFrame([("a",)], "item string")
    events = spark.createDataFrame([(1, 7, "click")], "event_id bigint, user_id bigint, event_type string")
    for name, apply, run in (
        ("cms", lambda d: apply_cms_batch(spark, d, items, "2025-01-01"),
         fronts.run_cms_update_available_now),
        ("touch", lambda d: apply_touch_batch(spark, d, events, "2025-01-01"),
         fronts.run_touch_update_available_now),
        ("dsir", lambda d: apply_dsir_batch(spark, d, docs, "2025-01-01"),
         fronts.run_dsir_update_available_now),
    ):
        apply(idx(name))
        _refused_before_start(
            lambda: run(spark, src, idx(name), ckpt(name)), ckpt(name), "keyed by date="
        )


def test_sketch_stream_lands_through_the_swap(spark, tmp_path):
    """A streamed sketch batch lands as ``ingest_batch=b<id>`` through the
    staged swap, and a replay of the key replaces it."""
    from data_ingestion_lambda_spark.operators.cms_store import apply_cms_batch, read_cms
    from data_ingestion_lambda_spark.streaming.index_streams import (
        run_cms_update_available_now,
    )

    src, idx = str(tmp_path / "src"), str(tmp_path / "idx")
    items = spark.createDataFrame([("a",), ("b",), ("a",)], "item string")
    items.write.parquet(src)
    [report] = run_cms_update_available_now(spark, src, idx, str(tmp_path / "ckpt"))
    assert report == {"index": idx, "ingest_batch": "b000000000"}
    names = sorted(os.listdir(idx))
    assert names == ["_keyed_by=ingest_batch", "ingest_batch=b000000000"]
    want = sorted(map(tuple, read_cms(spark, idx).collect()))
    apply_cms_batch(spark, idx, items, "b000000000")  # the replay
    assert sorted(map(tuple, read_cms(spark, idx).collect())) == want
