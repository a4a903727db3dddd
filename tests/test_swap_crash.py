"""A crash anywhere in a staged partition swap, followed by a re-run of the
same operation, converges to the state of a run that did not crash.

``layout.hadoop_fs`` is replaced by a proxy whose file system fails the
k-th mutating call (``delete``, ``rename``, ``mkdirs``, ``create``) with
an exception, as a killed process would stop there. For each caller the
operation first runs uncrashed over a copy of its starting tree, which
counts its mutating calls and records the state to reach. Then, for
every k, a fresh copy crashes at call k, the operation runs again, and
the state must equal the recorded one. The state is every directory
under the root with the rows of its parquet files; the processing-time
columns ``created_at``/``updated_at`` differ between any two runs and
are left out.
"""

from __future__ import annotations

import os
import shutil
from pathlib import Path

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from data_ingestion_lambda_spark.operators import layout

D1, D2, D3, D4 = "2025-07-01", "2025-07-02", "2025-07-03", "2025-07-04"
MUTATING = ("delete", "rename", "mkdirs", "create")
PROCESSING_TIME = ("created_at", "updated_at")


class _Crash(Exception):
    pass


class _Faults:
    """Mutating-call counter shared by every proxied file system."""

    def __init__(self):
        self.calls = 0
        self.fail_at: int | None = None


class _CrashingFs:
    def __init__(self, fs, faults: _Faults):
        self._fs = fs
        self._faults = faults

    def __getattr__(self, name):
        attr = getattr(self._fs, name)
        if name not in MUTATING:
            return attr

        def call(*args):
            self._faults.calls += 1
            if self._faults.calls == self._faults.fail_at:
                raise _Crash(f"{name} is mutating call {self._faults.calls}")
            return attr(*args)

        return call


@pytest.fixture
def faults(monkeypatch):
    f = _Faults()
    real = layout.hadoop_fs

    def crashing(spark, path):
        fs, path_cls = real(spark, path)
        return _CrashingFs(fs, f), path_cls

    monkeypatch.setattr(layout, "hadoop_fs", crashing)
    return f


def _state(root: Path) -> dict[str, list]:
    """Relative directory -> sorted rows of the parquet files in it."""
    state = {}
    for d, _, files in os.walk(root):
        rel = os.path.relpath(d, root)
        assert ".staging-" not in rel, f"staging left behind: {rel}"
        rows = [
            tuple(sorted((k, repr(v)) for k, v in r.items() if k not in PROCESSING_TIME))
            for f in files
            if f.endswith(".parquet")
            for r in pq.read_table(os.path.join(d, f)).to_pylist()
        ]
        state[rel] = sorted(rows)
    return state


def _run(faults: _Faults, op, root: Path, fail_at: int | None = None) -> int:
    faults.calls, faults.fail_at = 0, fail_at
    op(str(root))
    return faults.calls


def _every_crash_converges(faults, seed: Path, work: Path, op) -> dict:
    """Crash ``op`` over a copy of ``seed`` at each of its mutating calls,
    re-run it, and compare with the uncrashed run; returns that run's
    state."""
    ref = work / "uncrashed"
    shutil.copytree(seed, ref)
    n = _run(faults, op, ref)
    assert n > 0
    want = _state(ref)
    for k in range(1, n + 1):
        root = work / f"crash-{k}"
        shutil.copytree(seed, root)
        with pytest.raises(_Crash):
            _run(faults, op, root, fail_at=k)
        _run(faults, op, root)
        assert _state(root) == want, f"crash at mutating call {k} of {n}"
    return want


def _consumption(spark, rows):
    return spark.createDataFrame(
        rows, "date string, client_id string, client_name string, "
        "service_name string, total_consumed_tokens long",
    ).withColumn("updated_at", F.current_timestamp())


def _stored_ab_and_correction(spark, tmp_path):
    """The case that used to lose a row: {A, B} stored on D1 (plus C on D2), and a
    batch that corrects A and adds a new date."""
    from data_ingestion_lambda_spark.operators.upsert import upsert_into_parquet

    seed = tmp_path / "seed"
    upsert_into_parquet(spark, str(seed), _consumption(spark, [
        (D1, "A", "a", "api", 1), (D1, "B", "b", "api", 2), (D2, "C", "c", "api", 3),
    ]))
    batch = _consumption(spark, [(D1, "A", "a", "api", 10), (D3, "E", "e", "api", 5)])
    return seed, batch


def _tokens(state: dict, part: str) -> dict[str, str]:
    return {
        dict(r)["client_id"]: dict(r)["total_consumed_tokens"] for r in state[part]
    }


def test_consumption_upsert_converges(spark, tmp_path, faults):
    from data_ingestion_lambda_spark.operators.upsert import upsert_into_parquet

    seed, batch = _stored_ab_and_correction(spark, tmp_path)
    want = _every_crash_converges(
        faults, seed, tmp_path, lambda root: upsert_into_parquet(spark, root, batch)
    )
    assert _tokens(want, f"date={D1}") == {"'A'": "10", "'B'": "2"}  # {A', B}
    assert _tokens(want, f"date={D2}") == {"'C'": "3"}


def test_cdc_upsert_converges(spark, tmp_path, faults):
    from data_ingestion_lambda_spark.operators.upsert import (
        upsert_into_parquet_with_cdc,
    )

    seed, batch = _stored_ab_and_correction(spark, tmp_path)
    # the seed is the table itself; nest it so the feed sits beside it
    nested = tmp_path / "nested"
    shutil.copytree(seed, nested / "table")
    want = _every_crash_converges(
        faults,
        nested,
        tmp_path / "runs",
        lambda root: upsert_into_parquet_with_cdc(
            spark, f"{root}/table", batch, "b7",
            changes_dir=f"{root}/feed", ignore_cols=PROCESSING_TIME,
        ),
    )
    assert _tokens(want, f"table/date={D1}") == {"'A'": "10", "'B'": "2"}
    feed = {dict(r)["client_id"]: dict(r)["op"] for r in want["feed/date=b7"]}
    assert feed == {"'A'": "'update'", "'E'": "'insert'"}


def test_quarantine_write_converges(spark, tmp_path, faults):
    from data_ingestion_lambda_spark.streaming.ingest import _write_quarantine

    def bad(tag):
        return spark.createDataFrame([(f"{tag}-row", "bad date")], "raw string, error string")

    seed = tmp_path / "seed"
    _write_quarantine(spark, str(seed), bad("first"), 1)
    _write_quarantine(spark, str(seed), bad("stale"), 3)
    want = _every_crash_converges(
        faults, seed, tmp_path, lambda root: _write_quarantine(spark, root, bad("replay"), 3)
    )
    assert [dict(r)["raw"] for r in want["_batch_id=3"]] == ["'replay-row'"]


def _docs(spark, day: int):
    words = ["alpha", "beta", "gamma", "delta"]
    rows = [(day * 100 + i, f"{words[i % 4]} {words[(i + day) % 4]} common") for i in range(6)]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_fold_with_subtables_converges(spark, tmp_path, faults):
    from data_ingestion_lambda_spark.operators.postings import (
        compact_postings_index,
        update_postings,
    )

    seed = tmp_path / "seed"
    for i, d in enumerate((D1, D2)):
        update_postings(spark, str(seed), _docs(spark, i), d)
    want = _every_crash_converges(
        faults, seed, tmp_path, lambda root: compact_postings_index(spark, root, D2)
    )
    for sub in ("postings", "doclen", "stats"):
        assert f"{sub}/date=0000-00-00" in want and f"{sub}/date={D1}" not in want


def test_fold_without_subtables_converges(spark, tmp_path, faults):
    from data_ingestion_lambda_spark.operators.cms_store import (
        apply_cms_batch,
        compact_cms_store,
    )

    def items(i):
        return spark.createDataFrame([(f"item{j % (2 + i)}",) for j in range(8)], "item string")

    seed = tmp_path / "seed"
    apply_cms_batch(spark, str(seed), items(0), D1)
    apply_cms_batch(spark, str(seed), items(1), D2)
    compact_cms_store(spark, str(seed), D2)  # the next fold folds a base too
    apply_cms_batch(spark, str(seed), items(2), D3)
    want = _every_crash_converges(
        faults, seed, tmp_path, lambda root: compact_cms_store(spark, root, D4)
    )
    assert sorted(p for p in want if p.startswith("date=")) == ["date=0000-00-00"]


def test_batch_ledger_fold_converges(spark, tmp_path, faults):
    from data_ingestion_lambda_spark.streaming.events import compact_gap_ledger

    seed = tmp_path / "seed"
    spark.createDataFrame(
        [(b, g, b + g) for b in range(3) for g in (1, 2)],
        "ingest_batch int, gap_s long, cnt long",
    ).write.partitionBy("ingest_batch").parquet(str(seed))
    want = _every_crash_converges(
        faults, seed, tmp_path, lambda root: compact_gap_ledger(spark, root)
    )
    # the newest land may be uncommitted, so it stays out of the fold
    assert sorted(p for p in want if p.startswith("ingest_batch=")) == [
        "ingest_batch=-1", "ingest_batch=2",
    ]


def test_feature_ledger_fold_converges(spark, tmp_path, faults):
    from data_ingestion_lambda_spark.operators.feature_store import (
        apply_feature_batch,
        compact_feature_ledger,
    )

    seed = tmp_path / "seed"
    for d in (D1, D2, D3):
        events = spark.createDataFrame(
            [(i, f"{d} 0{i}:00:00", i % 2, "purchase" if i else "view", 1.5 * i, "")
             for i in range(3)],
            "event_id long, ts string, user_id long, event_type string, "
            "value double, props string",
        ).withColumn("ts", F.to_timestamp("ts"))
        apply_feature_batch(spark, str(seed), events, d)
    want = _every_crash_converges(
        faults, seed, tmp_path, lambda root: compact_feature_ledger(spark, root, D3)
    )
    assert sorted(p for p in want if p.startswith("date=")) == [
        "date=0000-00-00", f"date={D3}",
    ]


def test_compact_partitions_converges(spark, tmp_path, faults):
    from data_ingestion_lambda_spark.operators.compact import compact_partitions

    seed = tmp_path / "seed"
    _consumption(spark, [(d, f"C{i}", "c", "api", i) for d in (D1, D2) for i in range(4)]) \
        .repartition(3).write.partitionBy("date").parquet(str(seed))
    want = _every_crash_converges(
        faults, seed, tmp_path, lambda root: compact_partitions(spark, root)
    )
    assert sorted(p for p in want if p.startswith("date=")) == [f"date={D1}", f"date={D2}"]


def test_erase_keys_converges(spark, tmp_path, faults):
    from data_ingestion_lambda_spark.operators.erasure import erase_keys

    seed = tmp_path / "seed"
    spark.createDataFrame(
        [(D1, 1, "x"), (D1, 2, "y"), (D2, 1, "z"), (D3, 3, "w")],
        "date string, user_id long, v string",
    ).write.partitionBy("date").parquet(str(seed))
    keys = spark.createDataFrame([(1,)], "user_id long")
    want = _every_crash_converges(
        faults, seed, tmp_path, lambda root: erase_keys(spark, root, keys, "req-1")
    )
    assert sorted(p for p in want if p.startswith("date=")) == [f"date={D1}", f"date={D3}"]
    tomb = [dict(r) for r in want["_tombstones/request_id=req-1"]]
    assert [r["n_affected_dates"] for r in tomb] == ["2"]


def test_finishing_a_crashed_swap_twice_is_a_no_op(spark, tmp_path, faults):
    """After a crash at any point of the item-5 upsert, the finishing step
    leaves either the untouched table (the swap had no complete mark) or
    the uncrashed result; a crash inside the finishing step is finished
    by the next one; and a second finish makes no mutating call."""
    from data_ingestion_lambda_spark.operators.upsert import upsert_into_parquet

    seed, batch = _stored_ab_and_correction(spark, tmp_path)
    ref = tmp_path / "uncrashed"
    shutil.copytree(seed, ref)
    n = _run(faults, lambda root: upsert_into_parquet(spark, root, batch), ref)
    outcomes = (_state(seed), _state(ref))
    finish = lambda root: layout.finish_swaps(spark, root)  # noqa: E731
    for k in range(1, n + 1):
        crashed = tmp_path / f"crash-{k}"
        shutil.copytree(seed, crashed)
        with pytest.raises(_Crash):
            _run(faults, lambda root: upsert_into_parquet(spark, root, batch), crashed, k)
        once = tmp_path / f"finished-{k}"
        shutil.copytree(crashed, once)
        m = _run(faults, finish, once)
        assert _state(once) in outcomes, f"crash at mutating call {k} of {n}"
        assert _run(faults, finish, once) == 0
        for j in range(1, m + 1):
            twice = tmp_path / f"finish-crash-{k}-{j}"
            shutil.copytree(crashed, twice)
            with pytest.raises(_Crash):
                _run(faults, finish, twice, fail_at=j)
            _run(faults, finish, twice)
            assert _state(twice) == _state(once)


def test_store_erasure_finishes_a_crashed_stats_swap(spark, tmp_path, faults):
    """The search index's BM25 ``stats`` partitions are rewritten last,
    from the erased ``doclen``; the last three mutating calls all fall
    inside that swap. A re-run after a crash there erases nothing, so it
    must finish the stats swap without reaching the rewrite. At every
    crash point the tombstone keeps the whole request's count: it lands
    before the first swap, and a re-run keeps it."""
    from data_ingestion_lambda_spark.operators.postings import update_postings
    from data_ingestion_lambda_spark.operators.store_erasure import erase_store

    seed = tmp_path / "seed"
    for i, d in enumerate((D1, D2)):
        update_postings(spark, str(seed), _docs(spark, i), d)
    keys = spark.createDataFrame([(0,), (101,)], "doc_id bigint")

    def op(root):
        erase_store(spark, "search-index", root, keys, "req-1")

    def rows_erased(root):
        tomb = spark.read.parquet(str(root / "_tombstones" / "request_id=req-1"))
        return sorted(r.rows_erased for r in tomb.collect())

    ref = tmp_path / "uncrashed"
    shutil.copytree(seed, ref)
    n = _run(faults, op, ref)
    assert rows_erased(ref) == [7, 7]  # one tombstone row per subject key
    for k in range(1, n + 1):
        root = tmp_path / f"crash-{k}"
        shutil.copytree(seed, root)
        with pytest.raises(_Crash):
            _run(faults, op, root, fail_at=k)
        _run(faults, op, root)
        if k > n - 3:
            assert _state(root / "stats") == _state(ref / "stats"), f"crash at {k} of {n}"
        assert rows_erased(root) == rows_erased(ref), f"crash at {k} of {n}"


def test_gate_apply_after_a_crashed_fold_flags_folded_duplicates(spark, tmp_path, faults):
    """A fold of the dedup index that crashed mid-swap may leave the
    folded signatures only in staging; the next apply must finish that
    swap before it probes, or it misses duplicates of folded docs."""
    from data_ingestion_lambda_spark.operators.dedup_gate import (
        apply_batch,
        compact_gate_index,
    )

    def docs(rows):
        return spark.createDataFrame(rows, "doc_id bigint, text string")

    seed = tmp_path / "seed"
    apply_batch(spark, str(seed), docs([(1, "the first day"), (2, "other")]), D1, mode="exact")
    apply_batch(spark, str(seed), docs([(3, "the second day")]), D2, mode="exact")
    dup = docs([(10, "the first day"), (11, "the second day"), (12, "new")])

    def fold_then_apply(root):
        n = _run(faults, lambda r: compact_gate_index(spark, r, D3), root)
        return n, apply_batch(spark, str(root), dup, D3, mode="exact")

    ref = tmp_path / "uncrashed"
    shutil.copytree(seed, ref)
    n, want = fold_then_apply(ref)
    assert want["flagged_docs"] == 2
    for k in range(1, n + 1):
        root = tmp_path / f"crash-{k}"
        shutil.copytree(seed, root)
        with pytest.raises(_Crash):
            _run(faults, lambda r: compact_gate_index(spark, r, D3), root, fail_at=k)
        faults.fail_at = None
        assert apply_batch(spark, str(root), dup, D3, mode="exact") == want, k


def _legacy_crash(spark, tmp_path, drop_live: bool):
    """A table as an earlier version's swap left it when it crashed: the
    merged D1 ({A', B}) fully written to a plain ``.staging-<uuid>``, and,
    with ``drop_live``, the live D1 already deleted."""
    seed, batch = _stored_ab_and_correction(spark, tmp_path)
    staging = seed / ".staging-0123456789abcdef0123456789abcdef"
    _consumption(spark, [(D1, "A", "a", "api", 10), (D1, "B", "b", "api", 2)]) \
        .write.partitionBy("date").parquet(str(staging))
    if drop_live:
        shutil.rmtree(seed / f"date={D1}")
    return seed, staging, batch


def test_legacy_staging_with_the_only_copy_refuses(spark, tmp_path, faults):
    from data_ingestion_lambda_spark.operators.upsert import upsert_into_parquet

    seed, staging, batch = _legacy_crash(spark, tmp_path, drop_live=True)
    with pytest.raises(IOError, match=f"only copy of date={D1}"):
        upsert_into_parquet(spark, str(seed), batch)
    assert (staging / f"date={D1}").is_dir()  # nothing was deleted
    # the recovery the message names, then the re-run converges
    (staging / f"date={D1}").rename(seed / f"date={D1}")
    shutil.rmtree(staging)
    upsert_into_parquet(spark, str(seed), batch)
    assert _tokens(_state(seed), f"date={D1}") == {"'A'": "10", "'B'": "2"}


def test_legacy_staging_with_live_partitions_is_deleted(spark, tmp_path, faults):
    from data_ingestion_lambda_spark.operators.upsert import upsert_into_parquet

    seed, staging, batch = _legacy_crash(spark, tmp_path, drop_live=False)
    upsert_into_parquet(spark, str(seed), batch)
    assert not staging.exists()
    assert _tokens(_state(seed), f"date={D1}") == {"'A'": "10", "'B'": "2"}


def test_a_staging_dir_lost_to_another_writer_raises(spark, tmp_path, monkeypatch):
    """Two writers of one directory break the one-writer rule: the second
    one's finishing step deletes the first one's incomplete staging dir.
    The first must then raise, not swap in nothing and delete D1."""
    seed, _ = _stored_ab_and_correction(spark, tmp_path)
    real = layout.hadoop_fs

    class _Racing:
        def __init__(self, fs):
            self._fs = fs

        def __getattr__(self, name):
            return getattr(self._fs, name)

        def exists(self, path):
            if path.getName() == "_SUCCESS":
                layout.finish_swaps(spark, str(seed))  # the other writer
            return self._fs.exists(path)

    monkeypatch.setattr(
        layout, "hadoop_fs", lambda s, p: (_Racing(real(s, p)[0]), real(s, p)[1])
    )
    with pytest.raises(IOError, match="vanished"):
        layout.replace_partitions(
            spark, str(seed), _consumption(spark, [(D1, "A", "a", "api", 10)]), [D1]
        )
    monkeypatch.setattr(layout, "hadoop_fs", real)
    assert _tokens(_state(seed), f"date={D1}") == {"'A'": "1", "'B'": "2"}
