"""Base-fold compaction across the maintained-store family (VERDICT r10
#3): every additive/idempotent ledger gains a compaction entrypoint on
the shared crash-guarded ``base_fold``. Each test pins the contract the
postings/attribution folds established:

- read-EQUALITY: the store's read path is row-identical before and
  after a fold, after a second fold into the existing base, and after a
  no-op re-fold;
- LIST-cost: the partition dir count strictly drops;
- replay-refusal: an apply below the ``_horizon=`` marker raises (the
  folded key is SPENT — its partition can no longer overwrite itself).

The day-preserving stores (markov, drift) additionally pin that the
semantic day survives the fold via the ``day`` data column.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

D1, D2, D3 = "2025-07-01", "2025-07-02", "2025-07-03"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _part_dirs(idx, key="date"):
    return sorted(
        p.name for p in idx.iterdir() if p.is_dir() and p.name.startswith(f"{key}=")
    )


def _docs(spark, day_idx: int):
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
    rows = [
        (day_idx * 100 + i, f"{words[i % 6]} {words[(i + day_idx) % 6]} common")
        for i in range(12)
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


# --- vocab ------------------------------------------------------------------


def test_vocab_compaction(spark, tmp_path):
    from data_ingestion_lambda_spark.operators.vocab import (
        compact_vocab,
        read_vocab,
        score_batch,
        update_vocab,
    )

    idx = tmp_path / "vocab"
    for i, d in enumerate((D1, D2, D3)):
        update_vocab(spark, str(idx), _docs(spark, i), d)
    want = _rows(read_vocab(spark, str(idx)))
    want_scores = _rows(score_batch(spark, str(idx), _docs(spark, 0)))
    before = _part_dirs(idx)

    report = compact_vocab(spark, str(idx), D3)
    assert report["folded"][""] == 2
    assert len(_part_dirs(idx)) < len(before)
    assert _rows(read_vocab(spark, str(idx))) == want
    assert _rows(score_batch(spark, str(idx), _docs(spark, 0))) == want_scores

    # second fold takes the remaining day INTO the existing base
    compact_vocab(spark, str(idx), "2025-07-09")
    assert _part_dirs(idx) == ["date=0000-00-00"]
    assert _rows(read_vocab(spark, str(idx))) == want
    # no-op re-fold
    assert compact_vocab(spark, str(idx), "2025-07-09")["folded"] == {"": 0}

    with pytest.raises(ValueError, match="replay key is spent"):
        update_vocab(spark, str(idx), _docs(spark, 0), D1)
    # replay-safe scoring of a folded date refuses too (not separable)
    with pytest.raises(ValueError, match="can no longer be excluded"):
        score_batch(spark, str(idx), _docs(spark, 0), exclude_date=D1)


# --- cms (incl. streamed ingest_batch keying) ------------------------------


def test_cms_compaction_date_keyed(spark, tmp_path):
    from data_ingestion_lambda_spark.operators.cms_store import (
        apply_cms_batch,
        compact_cms_store,
        estimate_items,
        read_cms,
    )

    idx = tmp_path / "cms"
    items = lambda i: spark.createDataFrame(  # noqa: E731
        [(f"item{j % (3 + i)}",) for j in range(30)], "item string"
    )
    for i, d in enumerate((D1, D2, D3)):
        apply_cms_batch(spark, str(idx), items(i), d)
    want = _rows(read_cms(spark, str(idx)))
    probe = spark.createDataFrame([("item0",), ("item9",)], "item string")
    want_est = _rows(estimate_items(spark, str(idx), probe))
    before = _part_dirs(idx)

    assert compact_cms_store(spark, str(idx), D3)["folded"][""] == 2
    assert len(_part_dirs(idx)) < len(before)
    assert _rows(read_cms(spark, str(idx))) == want
    assert _rows(estimate_items(spark, str(idx), probe)) == want_est

    with pytest.raises(ValueError, match="replay key is spent"):
        apply_cms_batch(spark, str(idx), items(0), D1)
    # a new date at/after the horizon still lands
    apply_cms_batch(spark, str(idx), items(3), "2025-07-04")


def test_cms_compaction_streamed_keying(spark, tmp_path):
    """A streamed (ingest_batch=) ledger folds under its own partition
    column — ledger_keying reads the ``_keyed_by=`` marker — and the
    streaming land refuses a folded batch key."""
    from data_ingestion_lambda_spark.operators.cms_store import (
        compact_cms_store,
        read_cms,
    )
    from data_ingestion_lambda_spark.streaming.index_streams import (
        run_cms_update_available_now,
    )

    src, idx, ckpt = tmp_path / "src", tmp_path / "cms", tmp_path / "ckpt"
    for i in range(3):
        spark.createDataFrame(
            [(f"item{j % 4}",) for j in range(20)], "item string"
        ).coalesce(1).write.mode("overwrite").parquet(str(src / f"f{i}"))
        run_cms_update_available_now(
            spark, str(src), str(idx), str(ckpt), max_files_per_trigger=1
        )
    keys = _part_dirs(idx, "ingest_batch")
    assert len(keys) == 3
    want = _rows(read_cms(spark, str(idx)))

    last_key = keys[-1].split("=", 1)[1]
    report = compact_cms_store(spark, str(idx), last_key)
    assert report["folded"][""] == 2
    assert _rows(read_cms(spark, str(idx))) == want
    assert _part_dirs(idx, "ingest_batch") == [
        "ingest_batch=0000-00-00",
        keys[-1],
    ]

    from data_ingestion_lambda_spark.operators.base_fold import (
        check_not_below_horizon,
    )

    with pytest.raises(ValueError, match="replay key is spent"):
        check_not_below_horizon(spark, str(idx), keys[0].split("=")[1], "t")


# --- bloom ------------------------------------------------------------------


def test_bloom_compaction(spark, tmp_path):
    from data_ingestion_lambda_spark.operators.bloom_store import (
        apply_bloom_batch,
        compact_bloom_store,
        read_bloom,
        screen_docs,
    )

    idx = tmp_path / "bloom"
    members = lambda i: spark.createDataFrame(  # noqa: E731
        [(f"banned text {i} {j}",) for j in range(10)], "text string"
    )
    for i, d in enumerate((D1, D2, D3)):
        apply_bloom_batch(spark, str(idx), members(i), d)
    probes = spark.createDataFrame(
        [(1, "banned text 0 3"), (2, "clean text")], "doc_id bigint, text string"
    )
    want_words = _rows(read_bloom(spark, str(idx)))
    want_hits = _rows(screen_docs(spark, str(idx), probes))
    before = _part_dirs(idx)

    assert compact_bloom_store(spark, str(idx), D3)["folded"][""] == 2
    assert len(_part_dirs(idx)) < len(before)
    # bit-identical filter words, identical verdicts
    assert _rows(read_bloom(spark, str(idx))) == want_words
    assert _rows(screen_docs(spark, str(idx), probes)) == want_hits

    with pytest.raises(ValueError, match="replay key is spent"):
        apply_bloom_batch(spark, str(idx), members(0), D1)


# --- dsir -------------------------------------------------------------------


def test_dsir_compaction(spark, tmp_path):
    from data_ingestion_lambda_spark.operators.dsir_store import (
        apply_dsir_batch,
        compact_dsir_store,
        read_dsir_stats,
        score_docs,
    )

    idx = tmp_path / "dsir"
    docs = lambda i: spark.createDataFrame(  # noqa: E731
        [
            (i * 100 + j, "en" if j % 2 else "de", f"text sample {i} {j} words")
            for j in range(8)
        ],
        "doc_id bigint, lang string, text string",
    )
    for i, d in enumerate((D1, D2, D3)):
        apply_dsir_batch(spark, str(idx), docs(i), d)
    want = _rows(read_dsir_stats(spark, str(idx)))
    want_scores = _rows(score_docs(spark, str(idx), docs(0)))
    before = _part_dirs(idx)

    assert compact_dsir_store(spark, str(idx), D3)["folded"][""] == 2
    assert len(_part_dirs(idx)) < len(before)
    assert _rows(read_dsir_stats(spark, str(idx))) == want
    assert _rows(score_docs(spark, str(idx), docs(0))) == want_scores

    with pytest.raises(ValueError, match="replay key is spent"):
        apply_dsir_batch(spark, str(idx), docs(0), D1)


# --- heavy hitters ----------------------------------------------------------


def test_hh_compaction(spark, tmp_path):
    from data_ingestion_lambda_spark.operators.hh_store import (
        apply_hh_batch,
        compact_hh_store,
        read_heavy_hitters,
    )

    idx = tmp_path / "hh"
    items = lambda i: spark.createDataFrame(  # noqa: E731
        [(f"hot{j % 2}",) for j in range(40)]
        + [(f"cold{i}_{j}",) for j in range(10)],
        "item string",
    )
    for i, d in enumerate((D1, D2, D3)):
        apply_hh_batch(spark, str(idx), items(i), d)
    want = _rows(read_heavy_hitters(spark, str(idx)))
    before = _part_dirs(idx)

    assert compact_hh_store(spark, str(idx), D3)["folded"][""] == 2
    assert len(_part_dirs(idx)) < len(before)
    assert _rows(read_heavy_hitters(spark, str(idx))) == want
    # second fold into the existing base
    compact_hh_store(spark, str(idx), "2025-07-09")
    assert _part_dirs(idx) == ["date=0000-00-00"]
    assert _rows(read_heavy_hitters(spark, str(idx))) == want

    with pytest.raises(ValueError, match="replay key is spent"):
        apply_hh_batch(spark, str(idx), items(0), D2)


# --- touch ------------------------------------------------------------------


def test_touch_compaction(spark, tmp_path):
    from data_ingestion_lambda_spark.operators.touch_store import (
        apply_touch_batch,
        compact_touch_store,
        read_attribution_shapley,
        read_touch_state,
    )

    idx = tmp_path / "touch"
    events = lambda i: spark.createDataFrame(  # noqa: E731
        [
            (j, ["view", "click", "signup", "purchase"][(i + j) % 4])
            for j in range(20)
        ],
        "user_id bigint, event_type string",
    )
    for i, d in enumerate((D1, D2, D3)):
        apply_touch_batch(spark, str(idx), events(i), d)
    want_state = _rows(read_touch_state(spark, str(idx)))
    want_credit = _rows(read_attribution_shapley(spark, str(idx)))
    before = _part_dirs(idx)

    assert compact_touch_store(spark, str(idx), D3)["folded"][""] == 2
    assert len(_part_dirs(idx)) < len(before)
    assert _rows(read_touch_state(spark, str(idx))) == want_state
    assert _rows(read_attribution_shapley(spark, str(idx))) == want_credit

    with pytest.raises(ValueError, match="replay key is spent"):
        apply_touch_batch(spark, str(idx), events(0), D1)


# --- session ----------------------------------------------------------------


def _day_events(spark, day: str, user_offsets):
    base = dt.datetime.fromisoformat(f"{day}T00:00:00")
    rows = [
        (u, 1000 * u + i, base + dt.timedelta(minutes=m))
        for u, mins in user_offsets.items()
        for i, m in enumerate(mins)
    ]
    return spark.createDataFrame(
        rows, "user_id bigint, event_id bigint, ts timestamp"
    )


def test_session_compaction(spark, tmp_path):
    from data_ingestion_lambda_spark.operators.session_store import (
        apply_session_batch,
        compact_session_store,
        read_sessions,
        read_user_session_stats,
    )

    idx = tmp_path / "sess"
    # user 1's day-boundary session spans D1->D2 (23:50 + 00:05 within
    # the 30-min gap) — the seam the fold must preserve
    apply_session_batch(
        spark, str(idx), _day_events(spark, D1, {1: [10, 20, 1430], 2: [60]}), D1
    )
    apply_session_batch(
        spark, str(idx), _day_events(spark, D2, {1: [5, 15], 3: [120, 700]}), D2
    )
    apply_session_batch(
        spark, str(idx), _day_events(spark, D3, {2: [30, 40]}), D3
    )
    want = _rows(read_sessions(spark, str(idx)))
    want_stats = _rows(read_user_session_stats(spark, str(idx)))
    before = _part_dirs(idx)

    assert compact_session_store(spark, str(idx), D3)["folded"][""] == 2
    assert len(_part_dirs(idx)) < len(before)
    assert _rows(read_sessions(spark, str(idx))) == want
    assert _rows(read_user_session_stats(spark, str(idx))) == want_stats
    # fold everything; the cross-day seam still reads merged
    compact_session_store(spark, str(idx), "2025-07-09")
    assert _part_dirs(idx) == ["date=0000-00-00"]
    assert _rows(read_sessions(spark, str(idx))) == want

    with pytest.raises(ValueError, match="replay key is spent"):
        apply_session_batch(
            spark, str(idx), _day_events(spark, D1, {9: [1]}), D1
        )


# --- markov (day-preserving) ------------------------------------------------


def _journey_events(spark, day: str, rows):
    base = dt.datetime.fromisoformat(f"{day}T00:00:00")
    data = [
        (u, 1000 * u + i, base + dt.timedelta(minutes=m), ty)
        for i, (u, m, ty) in enumerate(rows)
    ]
    return spark.createDataFrame(
        data, "user_id bigint, event_id bigint, ts timestamp, event_type string"
    )


def test_markov_compaction_preserves_days(spark, tmp_path):
    from data_ingestion_lambda_spark.operators.markov_store import (
        apply_markov_batch,
        compact_markov_store,
        read_attribution_markov,
        read_transition_counts,
    )

    idx = tmp_path / "mkv"
    apply_markov_batch(
        spark,
        str(idx),
        _journey_events(
            spark, D1, [(1, 0, "view"), (1, 10, "click"), (2, 5, "view")]
        ),
        D1,
    )
    apply_markov_batch(
        spark,
        str(idx),
        _journey_events(
            spark, D2, [(1, 0, "purchase"), (2, 10, "click"), (3, 0, "view")]
        ),
        D2,
    )
    apply_markov_batch(
        spark,
        str(idx),
        _journey_events(spark, D3, [(2, 0, "purchase"), (3, 5, "signup")]),
        D3,
    )
    want_grid = _rows(read_transition_counts(spark, str(idx)))
    want_credit = _rows(read_attribution_markov(spark, str(idx)))
    before = _part_dirs(idx)

    # fold D1-D2: the day ordering (seams, first-purchase day) must
    # survive via the base's `day` data column
    assert compact_markov_store(spark, str(idx), D3)["folded"][""] == 2
    assert len(_part_dirs(idx)) < len(before)
    assert _rows(read_transition_counts(spark, str(idx))) == want_grid
    assert _rows(read_attribution_markov(spark, str(idx))) == want_credit
    # second fold merges the already-folded base with D3
    compact_markov_store(spark, str(idx), "2025-07-09")
    assert _part_dirs(idx) == ["date=0000-00-00"]
    assert _rows(read_transition_counts(spark, str(idx))) == want_grid

    with pytest.raises(ValueError, match="replay key is spent"):
        apply_markov_batch(
            spark, str(idx), _journey_events(spark, D1, [(9, 0, "view")]), D1
        )


# --- drift (day-preserving) -------------------------------------------------


def test_drift_compaction_preserves_days(spark, tmp_path):
    from data_ingestion_lambda_spark.operators.drift_monitor import (
        apply_histogram_batch,
        compact_drift_monitor,
        read_drift,
    )

    idx = tmp_path / "drift"
    for i, d in enumerate((D1, D2, D3)):
        base = dt.datetime.fromisoformat(f"{d}T12:00:00")
        events = spark.createDataFrame(
            [
                (["view", "click"][j % 2], base, float(10 * i + j))
                for j in range(20)
            ],
            "event_type string, ts timestamp, value double",
        )
        apply_histogram_batch(spark, str(idx), events, d)
    want = _rows(read_drift(spark, str(idx)))
    assert want  # day-over-day rows exist
    before = _part_dirs(idx)

    assert compact_drift_monitor(spark, str(idx), D3)["folded"][""] == 2
    assert len(_part_dirs(idx)) < len(before)
    assert _rows(read_drift(spark, str(idx))) == want
    compact_drift_monitor(spark, str(idx), "2025-07-09")
    assert _part_dirs(idx) == ["date=0000-00-00"]
    assert _rows(read_drift(spark, str(idx))) == want

    with pytest.raises(ValueError, match="replay key is spent"):
        apply_histogram_batch(
            spark,
            str(idx),
            spark.createDataFrame(
                [("view", dt.datetime.fromisoformat(f"{D1}T01:00:00"), 1.0)],
                "event_type string, ts timestamp, value double",
            ),
            D1,
        )


# --- crash-guard shared behavior (one store suffices; body is shared) -------


def test_stranded_staging_refuses(spark, tmp_path):
    from data_ingestion_lambda_spark.operators.cms_store import (
        apply_cms_batch,
        compact_cms_store,
    )

    idx = tmp_path / "cms"
    items = spark.createDataFrame([("a",), ("b",)], "item string")
    apply_cms_batch(spark, str(idx), items, D1)
    apply_cms_batch(spark, str(idx), items, D2)
    (idx / ".compact-staging").mkdir()
    before = sorted(p.name for p in idx.iterdir())
    with pytest.raises(RuntimeError, match="stranded") as refused:
        compact_cms_store(spark, str(idx), D3)
    # the message names the staging dir and the base partition to rename
    # it to, and the refused run deleted no ledger partition
    assert str(idx / ".compact-staging") in str(refused.value)
    assert "date=0000-00-00" in str(refused.value)
    assert sorted(p.name for p in idx.iterdir()) == before
    assert {f"date={D1}", f"date={D2}"} <= set(before)


# --- CLI wiring (one store per handler shape suffices) -----------------------


def test_cli_compact_keep_from_roundtrip(spark, tmp_path, capsys):
    """The --compact-keep-from flag folds and reports through main();
    compact-only invocations (no --batch) are accepted."""
    import json

    from data_ingestion_lambda_spark import cli
    from data_ingestion_lambda_spark.operators.hh_store import (
        apply_hh_batch,
        read_heavy_hitters,
    )

    idx = tmp_path / "hh"
    items = spark.createDataFrame(
        [(f"hot{j % 2}",) for j in range(30)], "item string"
    )
    for d in (D1, D2, D3):
        apply_hh_batch(spark, str(idx), items, d)
    want = _rows(read_heavy_hitters(spark, str(idx)))

    rc = cli.main(
        ["hh-store", "--index", str(idx), "--compact-keep-from", D3]
    )
    assert rc == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["compaction"]["folded"][""] == 2
    assert report["compaction"]["horizon"] == D3
    assert _rows(read_heavy_hitters(spark, str(idx))) == want
    assert _part_dirs(idx) == ["date=0000-00-00", f"date={D3}"]


def test_cli_vocab_compact_only(spark, tmp_path, capsys):
    import json

    from data_ingestion_lambda_spark import cli
    from data_ingestion_lambda_spark.operators.vocab import (
        read_vocab,
        update_vocab,
    )

    idx = tmp_path / "vocab"
    for i, d in enumerate((D1, D2)):
        update_vocab(spark, str(idx), _docs(spark, i), d)
    want = _rows(read_vocab(spark, str(idx)))
    rc = cli.main(["vocab", "--vocab", str(idx), "--compact-keep-from", D2])
    assert rc == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["compaction"]["folded"][""] == 1
    assert _rows(read_vocab(spark, str(idx))) == want


def test_base_key_apply_refuses_even_unfolded(spark, tmp_path):
    """Landing a batch under the reserved base key would clobber a
    folded base — the shared chokepoint refuses it unconditionally
    (vocab skips ISO validation; the raw streaming lands take
    arbitrary keys)."""
    from data_ingestion_lambda_spark.operators.session_store import (
        land_session_batch,
    )
    from data_ingestion_lambda_spark.operators.vocab import update_vocab

    with pytest.raises(ValueError, match="reserved"):
        update_vocab(
            spark, str(tmp_path / "v"), _docs(spark, 0), "0000-00-00"
        )
    with pytest.raises(ValueError, match="reserved"):
        land_session_batch(
            spark,
            str(tmp_path / "s"),
            _day_events(spark, D1, {1: [1]}),
            "0000-00-00",
        )
