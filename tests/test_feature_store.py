"""Maintained feature store: N batch applications + read-side derivation
must row-equal the one-shot feature_user_vectors lane over the same
events (for ANY batch split — the moments are semigroup elements), a
replayed batch must be a no-op, and compaction must be read-equal and
idempotent while spending only the folded dates' replay keys."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_ingestion_lambda_spark.operators.feature_store import (
    BASE_DATE,
    apply_feature_batch,
    compact_feature_ledger,
    read_user_features,
)
from data_ingestion_lambda_spark.plans import all_specs
from data_ingestion_lambda_spark.sources.catalog import load_table

SF = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(
        (
            r.user_id,
            r.n_events,
            r.n_purchases,
            r.purchase_rate,
            r.mean_cents,
            r.std_cents,
            r.tenure_days,
            r.last_event_type,
        )
        for r in df.collect()
    )


def _days(events):
    return sorted(
        str(r.d)
        for r in events.select(F.to_date("ts").alias("d")).distinct().collect()
    )


def _apply_daily(spark, idx, events):
    days = _days(events)
    for d in days:
        batch = events.filter(F.to_date("ts") == F.lit(d))
        apply_feature_batch(spark, idx, batch, d)
    return days


def test_daily_application_equals_oneshot(spark, tmp_path):
    idx = str(tmp_path / "feat_idx")
    events = load_table(spark, SF, "events")
    _apply_daily(spark, idx, events)
    got = _rows(read_user_features(spark, idx))
    want = _rows(all_specs()["feature_user_vectors"].builder(spark, SF))
    assert got == want and len(got) > 0


def test_random_split_equals_oneshot(spark, tmp_path):
    """The semigroup claim: ANY partition of the events into batches —
    here 5 random slices by event_id hash, nothing to do with days —
    merges to the same vectors. Exact equality, not approximate."""
    idx = str(tmp_path / "feat_idx")
    events = load_table(spark, SF, "events")
    dates = [f"2024-0{i}-01" for i in range(1, 6)]
    for i, d in enumerate(dates):
        batch = events.filter(F.pmod(F.col("event_id"), F.lit(5)) == i)
        apply_feature_batch(spark, idx, batch, d)
    got = _rows(read_user_features(spark, idx))
    want = _rows(all_specs()["feature_user_vectors"].builder(spark, SF))
    assert got == want and len(got) > 0


def test_replay_is_idempotent(spark, tmp_path):
    idx = str(tmp_path / "feat_idx")
    events = load_table(spark, SF, "events")
    days = _apply_daily(spark, idx, events)
    before = _rows(read_user_features(spark, idx))
    mid = days[len(days) // 2]
    batch = events.filter(F.to_date("ts") == F.lit(mid))
    apply_feature_batch(spark, idx, batch, mid)
    assert _rows(read_user_features(spark, idx)) == before


def test_compaction_is_read_equal_and_idempotent(spark, tmp_path):
    idx = str(tmp_path / "feat_idx")
    events = load_table(spark, SF, "events")
    days = _apply_daily(spark, idx, events)
    before = _rows(read_user_features(spark, idx))
    keep_from = days[-1]  # fold everything but the newest day
    folded = compact_feature_ledger(spark, idx, keep_from)
    assert folded == len(days) - 1
    assert _rows(read_user_features(spark, idx)) == before
    # the fold left exactly the base + the kept day
    import os

    parts = sorted(p for p in os.listdir(idx) if p.startswith("date="))
    assert parts == [f"date={BASE_DATE}", f"date={keep_from}"]
    # re-running the same compaction folds the base alone — a no-op
    assert compact_feature_ledger(spark, idx, keep_from) == 0
    assert _rows(read_user_features(spark, idx)) == before
    # a LATER cutoff folds base + kept day into the base again
    assert compact_feature_ledger(spark, idx, "9999-12-31") == 2
    assert _rows(read_user_features(spark, idx)) == before


def test_new_batch_after_compaction_merges(spark, tmp_path):
    """Post-compaction applies keep working: land days 1..N-1, compact,
    then land day N — vectors must equal the one-shot over everything."""
    idx = str(tmp_path / "feat_idx")
    events = load_table(spark, SF, "events")
    days = _days(events)
    for d in days[:-1]:
        apply_feature_batch(
            spark, idx, events.filter(F.to_date("ts") == F.lit(d)), d
        )
    compact_feature_ledger(spark, idx, days[-1])
    apply_feature_batch(
        spark, idx, events.filter(F.to_date("ts") == F.lit(days[-1])), days[-1]
    )
    got = _rows(read_user_features(spark, idx))
    want = _rows(all_specs()["feature_user_vectors"].builder(spark, SF))
    assert got == want


def test_cli_roundtrip(spark, tmp_path):
    """feature-store CLI: land two batches, read back via --vectors-out,
    then compact via --compact-before; the persisted vectors must match
    read_user_features on the same index."""
    from data_ingestion_lambda_spark.cli import main

    events = load_table(spark, SF, "events")
    days = _days(events)[:2]
    idx = str(tmp_path / "feat_idx")
    outs = []
    for d in days:
        bdir = str(tmp_path / f"batch_{d}")
        events.filter(F.to_date("ts") == F.lit(d)).write.parquet(bdir)
        rc = main(
            ["feature-store", "--index", idx, "--batch", bdir, "--date", d]
        )
        outs.append(rc)
    assert outs == [0, 0]
    vec_dir = str(tmp_path / "vectors")
    assert (
        main(
            [
                "feature-store",
                "--index",
                idx,
                "--vectors-out",
                vec_dir,
                "--compact-before",
                days[-1],
            ]
        )
        == 0
    )
    got = _rows(spark.read.parquet(vec_dir))
    want = _rows(read_user_features(spark, idx))
    assert got == want and len(got) > 0


EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def test_stream_ledger_features_equal_oneshot_with_midstream_split(spark, tmp_path):
    """Streaming front: events arrive in two triggers cut at an arbitrary
    row (users and days both straddle the cut — the case neither the
    daily form's date key nor any watermark helps with; moment
    additivity alone carries it), and the read-side vectors must
    row-equal the one-shot lane. A third run over the finished source is
    a checkpointed no-op."""
    import glob

    from data_ingestion_lambda_spark.streaming.events import (
        features_from_moment_ledger,
        stream_user_moments_to_table,
    )

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    ledger = str(tmp_path / "ledger")
    events = load_table(spark, SF, "events").orderBy("ts", "event_id")
    rows = events.collect()
    cut = len(rows) // 2
    spark.createDataFrame(rows[:cut], EVENTS_SCHEMA).write.mode("append").parquet(src)

    def run():
        stream_user_moments_to_table(
            spark.readStream.schema(EVENTS_SCHEMA).parquet(src), ledger, ckpt
        )

    run()
    spark.createDataFrame(rows[cut:], EVENTS_SCHEMA).write.mode("append").parquet(src)
    run()
    got = _rows(features_from_moment_ledger(spark, ledger))
    want = _rows(all_specs()["feature_user_vectors"].builder(spark, SF))
    assert got == want and len(got) > 0
    n_parts = len(glob.glob(f"{ledger}/ingest_batch=*"))
    run()  # finished source: no new batch partitions, same vectors
    assert len(glob.glob(f"{ledger}/ingest_batch=*")) == n_parts
    assert _rows(features_from_moment_ledger(spark, ledger)) == want


def test_asof_read_equals_oneshot_prefix_and_respects_horizon(spark, tmp_path):
    """Time travel: the as-of read at day k must equal the one-shot lane
    over events <= day k for every k; after compaction, an as_of below
    the fold horizon must refuse (the folded total is NOT that day's
    state), while reads at/above the horizon keep working."""
    import pytest

    from data_ingestion_lambda_spark.operators.feature_store import (
        read_user_features_asof,
    )

    idx = str(tmp_path / "feat_idx")
    events = load_table(spark, SF, "events")
    days = _apply_daily(spark, idx, events)

    def want_upto(d):
        prefix = events.filter(F.to_date("ts") <= F.lit(d))
        tmp = str(tmp_path / f"prefix_{d}")
        one_shot = all_specs()["feature_user_vectors"].builder
        # one-shot lane reads a directory layout: stage the prefix as its
        # own events table
        import os

        os.makedirs(f"{tmp}_dir", exist_ok=True)
        prefix.write.mode("overwrite").parquet(f"{tmp}_dir/events.parquet")
        return _rows(one_shot(spark, f"{tmp}_dir"))

    for d in (days[0], days[len(days) // 2], days[-1]):
        assert _rows(read_user_features_asof(spark, idx, d)) == want_upto(d)

    with pytest.raises(ValueError, match="no ledger partition"):
        read_user_features_asof(spark, idx, "1999-01-01")

    keep_from = days[-1]
    compact_feature_ledger(spark, idx, keep_from)
    # at/above the horizon still serves (base == everything < keep_from)
    assert _rows(read_user_features_asof(spark, idx, days[-1])) == want_upto(
        days[-1]
    )
    # below the horizon refuses loudly
    with pytest.raises(ValueError, match="compaction horizon"):
        read_user_features_asof(spark, idx, days[0])


def test_cli_stream_source_drains_and_derives(spark, tmp_path):
    """feature-store --stream-source: two invocations over a growing
    drop directory land only the new files each time; the derived
    vectors match the one-shot lane; a mixed-layout index refuses."""
    from data_ingestion_lambda_spark.cli import main

    events = load_table(spark, SF, "events").orderBy("ts", "event_id")
    rows = events.collect()
    cut = len(rows) // 2
    src = str(tmp_path / "drops")
    idx = str(tmp_path / "ledger")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(rows[:cut], EVENTS_SCHEMA).write.mode("append").parquet(src)
    assert (
        main(
            ["feature-store", "--index", idx, "--stream-source", src,
             "--checkpoint", ckpt]
        )
        == 0
    )
    spark.createDataFrame(rows[cut:], EVENTS_SCHEMA).write.mode("append").parquet(src)
    vec_dir = str(tmp_path / "vectors")
    assert (
        main(
            ["feature-store", "--index", idx, "--stream-source", src,
             "--checkpoint", ckpt, "--vectors-out", vec_dir]
        )
        == 0
    )
    got = _rows(spark.read.parquet(vec_dir))
    want = _rows(all_specs()["feature_user_vectors"].builder(spark, SF))
    assert got == want and len(got) > 0

    # a daily --batch apply into the stream ledger must refuse
    import pytest

    bdir = str(tmp_path / "b0")
    spark.createDataFrame(rows[:5], EVENTS_SCHEMA).write.parquet(bdir)
    with pytest.raises(SystemExit, match="stream-driven"):
        main(["feature-store", "--index", idx, "--batch", bdir,
              "--date", "2025-01-01"])
    # and --compact-before has no calendar meaning on batch-id keys
    with pytest.raises(SystemExit, match="batch-id"):
        main(["feature-store", "--index", idx, "--compact-before",
              "2025-01-01"])


def test_cli_stream_auto_compaction_folds_batch_ledger(spark, tmp_path, capsys):
    """feature-store --stream-source --auto-compact-max-dirs over a
    batch-id-keyed ledger folds every committed batch into
    ingest_batch=-1 (the date-keyed fold cannot parse batch ids) and
    derives the same vectors as the same drain without the flag."""
    import json

    from data_ingestion_lambda_spark.cli import main
    from data_ingestion_lambda_spark.operators.layout import partition_values

    rows = load_table(spark, SF, "events").orderBy("ts", "event_id").collect()
    src = str(tmp_path / "drops")
    step = -(-len(rows) // 5)
    for i in range(5):
        chunk = rows[i * step:(i + 1) * step]
        spark.createDataFrame(chunk, EVENTS_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def drain(name, *extra):
        idx, ckpt = str(tmp_path / name), str(tmp_path / f"{name}_ckpt")
        capsys.readouterr()
        assert main(
            ["feature-store", "--index", idx, "--stream-source", src,
             "--checkpoint", ckpt, "--max-files-per-trigger", "1", *extra]
        ) == 0
        report = json.loads(capsys.readouterr().out)
        vec_dir = str(tmp_path / f"{name}_vectors")
        assert main(["feature-store", "--index", idx, "--vectors-out", vec_dir]) == 0
        return idx, ckpt, report, _rows(spark.read.parquet(vec_dir))

    idx, ckpt, report, got = drain("folded", "--auto-compact-max-dirs", "2")
    assert report["stream_batches"] == 5
    assert report["auto_compact"] == {"max_dirs": 2, "due": True, "compaction": 5}
    assert partition_values(spark, idx, "ingest_batch") == ["-1"]
    assert sorted(p.name for p in (tmp_path / "folded_ckpt" / "commits").iterdir()
                  if not p.name.startswith(".")) == ["0", "1", "2", "3", "4"]

    _, _, plain_report, want = drain("plain")
    assert "auto_compact" not in plain_report
    assert got == want and len(got) > 0


def test_schema_evolution_refuses_then_from_introduction(spark, tmp_path):
    """Ledger evolution: a partition written before a moment column
    existed (simulated by rewriting one date dir without n_purchases)
    must make the default read REFUSE loudly; the explicit
    from_introduction opt-in serves vectors whose evolved feature counts
    only post-introduction batches, while backfilling the old date
    restores full equality with the one-shot lane."""
    import pytest

    from data_ingestion_lambda_spark.operators.feature_store import (
        read_user_features_asof,
    )

    idx = str(tmp_path / "feat_idx")
    events = load_table(spark, SF, "events")
    days = _apply_daily(spark, idx, events)
    old_day = days[0]

    # simulate the pre-introduction file: rewrite day 0's moments
    # without n_purchases (as a version of user_moments before that
    # feature would have written it)
    part_dir = f"{idx}/date={old_day}"
    old = spark.read.parquet(part_dir).drop("n_purchases")
    tmp_dir = str(tmp_path / "rewrite")
    old.write.parquet(tmp_dir)
    import shutil

    shutil.rmtree(part_dir)
    shutil.move(tmp_dir, part_dir)

    # default read refuses, naming the remedy
    with pytest.raises(ValueError, match="from_introduction"):
        read_user_features(spark, idx).collect()
    # the as-of read over a range including the old partition refuses too
    with pytest.raises(ValueError, match="from_introduction"):
        read_user_features_asof(spark, idx, days[-1]).collect()

    # opt-in: n_purchases counts only post-introduction days; every
    # other feature still covers all history
    got = {
        r.user_id: r
        for r in read_user_features(
            spark, idx, missing_columns="from_introduction"
        ).collect()
    }
    want_all = {
        r.user_id: r
        for r in all_specs()["feature_user_vectors"].builder(spark, SF).collect()
    }
    post = events.filter(F.to_date("ts") > F.lit(old_day))
    from data_ingestion_lambda_spark.operators.feature_store import (
        merge_moments,
        user_moments,
    )

    want_post_purchases = {
        r.user_id: r.n_purchases
        for r in merge_moments(user_moments(post)).collect()
    }
    assert len(got) == len(want_all) > 0
    for uid, row in got.items():
        assert row.n_events == want_all[uid].n_events  # full history
        assert row.tenure_days == want_all[uid].tenure_days
        assert row.mean_cents == want_all[uid].mean_cents
        assert row.n_purchases == want_post_purchases.get(uid, 0)

    # backfill: re-apply the old date from raw events — the normal
    # idempotent operation — and full equality returns
    apply_feature_batch(
        spark, idx, events.filter(F.to_date("ts") == F.lit(old_day)), old_day
    )
    got2 = _rows(read_user_features(spark, idx))
    want2 = _rows(all_specs()["feature_user_vectors"].builder(spark, SF))
    assert got2 == want2


def test_decayed_activity_ledger_equals_oneshot_and_respects_fold(spark, tmp_path):
    """Recency read: day-pure daily applies + date-weighted ledger read
    must row-equal the registered one-shot decay lane; a compacted base
    inside the decay window refuses."""
    import pytest

    from data_ingestion_lambda_spark.operators.feature_store import (
        read_user_decayed_activity,
    )
    from data_ingestion_lambda_spark.plans.features import _DECAY_ASOF

    idx = str(tmp_path / "feat_idx")
    events = load_table(spark, SF, "events")
    days = _apply_daily(spark, idx, events)
    got = sorted(
        tuple(r)
        for r in read_user_decayed_activity(spark, idx, _DECAY_ASOF).collect()
    )
    want = sorted(
        tuple(r)
        for r in all_specs()["feature_user_decayed_activity"]
        .builder(spark, SF)
        .collect()
    )
    assert got == want and len(got) > 0
    # folding the whole history puts the base inside the decay window
    compact_feature_ledger(spark, idx, days[-1])
    with pytest.raises(ValueError, match="decay window"):
        read_user_decayed_activity(spark, idx, _DECAY_ASOF)


def test_cli_decayed_out(spark, tmp_path):
    """--decayed-out: the persisted recency table must match the library
    read, and the flag refuses without --as-of."""
    import pytest

    from data_ingestion_lambda_spark.cli import main
    from data_ingestion_lambda_spark.operators.feature_store import (
        read_user_decayed_activity,
    )
    from data_ingestion_lambda_spark.plans.features import _DECAY_ASOF

    idx = str(tmp_path / "feat_idx")
    events = load_table(spark, SF, "events")
    _apply_daily(spark, idx, events)
    out = str(tmp_path / "decayed")
    assert (
        main(
            ["feature-store", "--index", idx, "--decayed-out", out,
             "--as-of", _DECAY_ASOF]
        )
        == 0
    )
    got = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    want = sorted(
        tuple(r)
        for r in read_user_decayed_activity(spark, idx, _DECAY_ASOF).collect()
    )
    assert got == want and len(got) > 0
    with pytest.raises(SystemExit, match="as-of"):
        main(["feature-store", "--index", idx, "--decayed-out", out])


def test_null_value_batch_is_served_not_refused(spark, tmp_path):
    """ADVICE r8: a user whose batch events all carry NULL value (the
    events schema declares value nullable) writes NULL sum_cents /
    sumsq_cents moments. That is a LEGITIMATE current-schema ledger —
    NULL is those columns' semigroup identity — and the old-schema NULL
    probe must not refuse it (only the never-null sentinels n_events /
    n_purchases prove an old-schema partition)."""
    idx = str(tmp_path / "feat_idx")
    events = spark.createDataFrame(
        [
            (1, 10, "view", None, "2025-05-01 10:00:00"),
            (1, 11, "view", None, "2025-05-01 11:00:00"),
            (2, 12, "purchase", 3.5, "2025-05-01 12:00:00"),
        ],
        "user_id long, event_id long, event_type string, value double, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    apply_feature_batch(spark, idx, events, "2025-05-01")
    got = {r.user_id: r for r in read_user_features(spark, idx).collect()}
    assert got[1].n_events == 2 and got[1].mean_cents is None
    assert got[2].n_events == 1 and got[2].mean_cents == 350.0


def test_compact_horizon_marker_is_crashproof(spark, tmp_path):
    """ADVICE r9: the r8 early-return restored a missing _horizon marker
    at the CALLER-supplied keep_from, so a post-crash re-run with an
    EARLIER keep_from understated the horizon and served as-of reads
    from already-folded base state. Now (a) the marker is written FIRST
    (before staging/drops), so no crash window leaves a folded base
    without one; (b) a surviving marker CLAMPS a re-run's earlier
    keep_from via the MAX rule; (c) a base genuinely missing its marker
    (out-of-band deletion) is a loud refusal naming the manual remedy,
    never a trusting restore."""
    import pytest

    from data_ingestion_lambda_spark.operators.feature_store import (
        read_user_features_asof,
    )
    from data_ingestion_lambda_spark.operators.layout import hadoop_fs

    idx = str(tmp_path / "feat_idx")
    events = load_table(spark, SF, "events")
    days = _apply_daily(spark, idx, events)
    keep_from = days[-1]
    assert compact_feature_ledger(spark, idx, keep_from) > 0
    fs, path_cls = hadoop_fs(spark, idx)
    assert fs.exists(path_cls(f"{idx}/_horizon={keep_from}"))
    # (b) a re-run with an EARLIER keep_from must NOT lower the marker
    assert compact_feature_ledger(spark, idx, days[0]) == 0
    assert fs.exists(path_cls(f"{idx}/_horizon={keep_from}"))
    with pytest.raises(ValueError, match="compaction horizon"):
        read_user_features_asof(spark, idx, days[0])
    # (c) marker removed out-of-band: refusal with the manual remedy,
    # and the understating re-run must NOT recreate it
    assert fs.delete(path_cls(f"{idx}/_horizon={keep_from}"), True)
    with pytest.raises(ValueError, match="no _horizon= marker"):
        read_user_features_asof(spark, idx, days[-1])
    with pytest.raises(ValueError, match="cannot be reconstructed"):
        compact_feature_ledger(spark, idx, days[0])
    assert not fs.exists(path_cls(f"{idx}/_horizon={days[0]}"))
    # manual remedy at the ORIGINAL keep_from restores service
    assert fs.mkdirs(path_cls(f"{idx}/_horizon={keep_from}"))
    got = _rows(read_user_features_asof(spark, idx, days[-1]))
    assert got == _rows(read_user_features(spark, idx))


def test_cli_batch_normalizes_ntz_timestamps(spark, tmp_path):
    """ADVICE r8: a raw generator drop whose ts is TIMESTAMP_NTZ (what
    parquet MICROS isAdjustedToUTC=false infers as under Spark 4) must
    work through the CLI --batch path exactly like it does through the
    registered lanes — the store's unix_micros expressions need a regular
    TIMESTAMP, so the CLI applies load_table's normalization."""
    from data_ingestion_lambda_spark.cli import main

    events = load_table(spark, SF, "events")
    d = _days(events)[0]
    bdir = str(tmp_path / "batch_ntz")
    events.filter(F.to_date("ts") == F.lit(d)).withColumn(
        "ts", F.col("ts").cast("timestamp_ntz")
    ).write.parquet(bdir)
    idx = str(tmp_path / "feat_idx")
    assert main(["feature-store", "--index", idx, "--batch", bdir, "--date", d]) == 0
    got = _rows(read_user_features(spark, idx))
    # must equal the same day applied with a proper TIMESTAMP
    idx2 = str(tmp_path / "feat_idx2")
    apply_feature_batch(spark, idx2, events.filter(F.to_date("ts") == F.lit(d)), d)
    assert got == _rows(read_user_features(spark, idx2)) and len(got) > 0
