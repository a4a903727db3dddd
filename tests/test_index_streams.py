"""Streaming fronts for the maintained vocab / postings / IVF-ANN /
session indexes (streaming/index_streams.py): the streamed N-trigger
state must equal the one-shot operator over everything ingested —
including the session store under an ARBITRARY (non-day) split, the
case the running-max seam merge exists for — and a re-run with nothing
new must be a checkpointed no-op."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE

SF = SF_SMOKE


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")


def _two_drops(df, src, cut_expr):
    """Write df as two file drops split by a boolean column expression."""
    df.filter(cut_expr).write.mode("append").parquet(src)
    return lambda: df.filter(~cut_expr).write.mode("append").parquet(src)


def test_vocab_stream_equals_oneshot_and_rerun_noop(spark, tmp_path):
    from data_ingestion_lambda_spark.operators.vocab import (
        _batch_counts,
        read_vocab,
    )
    from data_ingestion_lambda_spark.streaming.index_streams import (
        run_vocab_update_available_now,
    )

    docs = _docs(spark)
    src, ckpt, vocab = (str(tmp_path / d) for d in ("src", "ckpt", "vocab"))
    drop2 = _two_drops(docs, src, F.col("doc_id") % 2 == 0)
    assert len(run_vocab_update_available_now(spark, src, vocab, ckpt)) >= 1
    drop2()
    assert len(run_vocab_update_available_now(spark, src, vocab, ckpt)) >= 1

    def rows():
        return sorted(map(tuple, read_vocab(spark, vocab).collect()))

    got = rows()
    assert got == sorted(map(tuple, _batch_counts(docs).collect()))
    # nothing new -> no-op, state untouched
    assert run_vocab_update_available_now(spark, src, vocab, ckpt) == []
    assert rows() == got


def test_postings_stream_search_equals_oneshot(spark, tmp_path):
    from data_ingestion_lambda_spark.operators.postings import search_topk
    from data_ingestion_lambda_spark.plans.retrieval import (
        N_QUERIES,
        search_bm25_topk,
    )
    from data_ingestion_lambda_spark.streaming.index_streams import (
        run_postings_update_available_now,
    )

    docs = _docs(spark)
    src, ckpt, idx = (str(tmp_path / d) for d in ("src", "ckpt", "idx"))
    drop2 = _two_drops(docs, src, F.col("doc_id") % 2 == 0)
    run_postings_update_available_now(spark, src, idx, ckpt)
    drop2()
    run_postings_update_available_now(spark, src, idx, ckpt)

    queries = docs.filter(F.col("doc_id") < N_QUERIES).select(
        F.col("doc_id").alias("query_id"), "text"
    )

    def rows(df):
        return sorted(
            (r["query_id"], r["rank"], r["match_id"], r["bm25"])
            for r in df.collect()
        )

    got = rows(search_topk(spark, idx, queries))
    assert got == rows(search_bm25_topk(spark, SF)) and len(got) > 0
    assert run_postings_update_available_now(spark, src, idx, ckpt) == []
    assert rows(search_topk(spark, idx, queries)) == got


def test_ann_stream_probe_equals_oneshot(spark, tmp_path):
    from data_ingestion_lambda_spark.operators.ann_index import (
        probe_topk,
        train_index,
    )
    from data_ingestion_lambda_spark.plans.similarity import (
        N_QUERIES,
        ann_ivf_topk,
    )
    from data_ingestion_lambda_spark.streaming.index_streams import (
        run_ann_append_available_now,
    )

    vecs = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    src, ckpt, idx = (str(tmp_path / d) for d in ("src", "ckpt", "idx"))
    # quantizer must be frozen first — refused otherwise
    with pytest.raises(ValueError, match="train_index"):
        run_ann_append_available_now(spark, src, idx, ckpt)
    train_index(spark, idx, vecs)
    drop2 = _two_drops(vecs, src, F.col("vec_id") % 2 == 0)
    run_ann_append_available_now(spark, src, idx, ckpt)
    drop2()
    run_ann_append_available_now(spark, src, idx, ckpt)

    queries = vecs.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    def rows(df):
        return sorted(
            (r["query_id"], r["rank"], r["neighbor_id"], r["cell"], r["cosine"])
            for r in df.collect()
        )

    got = rows(probe_topk(spark, idx, queries))
    assert got == rows(ann_ivf_topk(spark, SF)) and len(got) > 0
    assert run_ann_append_available_now(spark, src, idx, ckpt) == []
    assert rows(probe_topk(spark, idx, queries)) == got


def test_session_stream_equals_oneshot_under_arbitrary_split(spark, tmp_path):
    """The front's whole point: the split is by event_id hash — NOT by
    day — so batches interleave in time and partial sessions can nest
    inside each other's spans. The running-max seam merge must still
    reconstruct the one-shot session set exactly."""
    from data_ingestion_lambda_spark.operators.session_store import (
        read_sessions,
    )
    from data_ingestion_lambda_spark.plans import all_specs
    from data_ingestion_lambda_spark.sources.catalog import load_table
    from data_ingestion_lambda_spark.streaming.index_streams import (
        run_session_update_available_now,
    )

    events = load_table(spark, SF, "events").select("event_id", "user_id", "ts")
    src, ckpt, idx = (str(tmp_path / d) for d in ("src", "ckpt", "idx"))
    drop2 = _two_drops(events, src, F.pmod(F.xxhash64("event_id"), F.lit(3)) < 2)
    run_session_update_available_now(spark, src, idx, ckpt)
    drop2()
    run_session_update_available_now(spark, src, idx, ckpt)

    def rows():
        return sorted(
            (r.user_id, r.session_seq, r.session_start, r.session_end, r.n_events)
            for r in read_sessions(spark, idx).collect()
        )

    got = rows()
    want = sorted(
        (r.user_id, r.session_seq, r.session_start, r.session_end, r.n_events)
        for r in all_specs()["events_sessionize"].builder(spark, SF).collect()
    )
    assert got == want and len(got) > 0
    assert run_session_update_available_now(spark, src, idx, ckpt) == []
    assert rows() == got


def test_cli_stream_fronts(spark, tmp_path, capsys):
    """The four new --stream-source CLI wirings drain and apply; the
    drained vocab equals the one-shot counts and the session store
    serves the merged table."""
    import json

    from data_ingestion_lambda_spark.cli import main
    from data_ingestion_lambda_spark.operators.vocab import _batch_counts, read_vocab

    docs = _docs(spark)
    src = str(tmp_path / "docs_src")
    docs.write.parquet(src)
    vocab = str(tmp_path / "vocab")
    rc = main(
        [
            "vocab", "--vocab", vocab,
            "--stream-source", src, "--checkpoint", str(tmp_path / "vckpt"),
        ]
    )
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["statusCode"] == 200 and len(rep["batches"]) >= 1
    assert sorted(map(tuple, read_vocab(spark, vocab).collect())) == sorted(
        map(tuple, _batch_counts(docs).collect())
    )

    from data_ingestion_lambda_spark.operators.session_store import read_sessions
    from data_ingestion_lambda_spark.sources.catalog import load_table

    events = load_table(spark, SF, "events").select("event_id", "user_id", "ts")
    esrc = str(tmp_path / "events_src")
    events.write.parquet(esrc)
    sess_idx = str(tmp_path / "sess_idx")
    rc = main(
        [
            "session-store", "--index", sess_idx,
            "--stream-source", esrc, "--checkpoint", str(tmp_path / "sckpt"),
        ]
    )
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["statusCode"] == 200 and len(rep["batches"]) >= 1
    assert read_sessions(spark, sess_idx).count() > 0


def test_cli_vocab_stream_then_fold(spark, tmp_path, capsys):
    """A streamed vocab invocation with --compact-keep-from drains first
    and then folds, as the daily form does; the model reads the same."""
    import json

    from data_ingestion_lambda_spark.cli import main
    from data_ingestion_lambda_spark.operators.layout import partition_values
    from data_ingestion_lambda_spark.operators.vocab import _batch_counts, read_vocab

    docs = _docs(spark)
    src = str(tmp_path / "docs_src")
    _two_drops(docs, src, F.col("doc_id") % 2 == 0)()
    vocab = str(tmp_path / "vocab")
    rc = main(
        [
            "vocab", "--vocab", vocab,
            "--stream-source", src, "--checkpoint", str(tmp_path / "vckpt"),
            "--max-files-per-trigger", "1", "--compact-keep-from", "b000000001",
        ]
    )
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert len(rep["batches"]) >= 2
    assert rep["compaction"]["folded"] == {"": 1}
    assert partition_values(spark, vocab, "_horizon") == ["b000000001"]
    assert sorted(map(tuple, read_vocab(spark, vocab).collect())) == sorted(
        map(tuple, _batch_counts(docs).collect())
    )


def test_session_stream_normalizes_ns_long_ts(spark, tmp_path):
    """Review r8: raw generator drops carry ts as epoch-ns longs under
    the session factory's nanosAsLong conf; the session front must
    accept them (schema 'ts bigint' + in-body normalization) and
    produce the same sessions as proper-timestamp events."""
    from data_ingestion_lambda_spark.operators.session_store import read_sessions
    from data_ingestion_lambda_spark.sources.catalog import load_table
    from data_ingestion_lambda_spark.streaming.index_streams import (
        run_session_update_available_now,
    )

    events = load_table(spark, SF, "events").select("event_id", "user_id", "ts")
    src = str(tmp_path / "src_ns")
    events.select(
        "event_id",
        "user_id",
        (F.unix_micros("ts") * 1000).cast("long").alias("ts"),
    ).write.parquet(src)
    idx = str(tmp_path / "idx_ns")
    reports = run_session_update_available_now(
        spark,
        src,
        idx,
        str(tmp_path / "ck_ns"),
        schema="event_id bigint, user_id bigint, ts bigint",
    )
    assert len(reports) >= 1
    got = sorted(
        (r.user_id, r.session_seq, r.session_start, r.session_end, r.n_events)
        for r in read_sessions(spark, idx).collect()
    )
    idx2 = str(tmp_path / "idx_ts")
    events.write.parquet(str(tmp_path / "src_ts"))
    run_session_update_available_now(
        spark, str(tmp_path / "src_ts"), idx2, str(tmp_path / "ck_ts")
    )
    want = sorted(
        (r.user_id, r.session_seq, r.session_start, r.session_end, r.n_events)
        for r in read_sessions(spark, idx2).collect()
    )
    assert got == want and len(got) > 0


def test_cli_stream_fronts_postings_and_ann(spark, tmp_path, capsys):
    """search-index / ann-index --stream-source: drained indexes serve
    the same results as the registered one-shot lanes."""
    import json

    from data_ingestion_lambda_spark.cli import main
    from data_ingestion_lambda_spark.operators.postings import search_topk
    from data_ingestion_lambda_spark.plans.retrieval import (
        N_QUERIES as BM25_Q,
        search_bm25_topk,
    )

    docs = _docs(spark)
    dsrc = str(tmp_path / "docs_src")
    docs.write.parquet(dsrc)
    pidx = str(tmp_path / "postings")
    rc = main(
        ["search-index", "--index", pidx,
         "--stream-source", dsrc, "--checkpoint", str(tmp_path / "pck")]
    )
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["statusCode"] == 200 and len(rep["batches"]) >= 1
    queries = docs.filter(F.col("doc_id") < BM25_Q).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    got = sorted(
        (r["query_id"], r["rank"], r["match_id"], r["bm25"])
        for r in search_topk(spark, pidx, queries).collect()
    )
    want = sorted(
        (r["query_id"], r["rank"], r["match_id"], r["bm25"])
        for r in search_bm25_topk(spark, SF).collect()
    )
    assert got == want and len(got) > 0

    from data_ingestion_lambda_spark.operators.ann_index import probe_topk
    from data_ingestion_lambda_spark.plans.similarity import (
        N_QUERIES as ANN_Q,
        ann_ivf_topk,
    )

    vecs = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    vsrc = str(tmp_path / "vecs_src")
    vecs.write.parquet(vsrc)
    aidx = str(tmp_path / "ann")
    train = str(tmp_path / "train")
    vecs.write.parquet(train)
    assert main(["ann-index", "--index", aidx, "--train", train]) == 0
    rc = main(
        ["ann-index", "--index", aidx,
         "--stream-source", vsrc, "--checkpoint", str(tmp_path / "ack")]
    )
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["statusCode"] == 200 and len(rep["batches"]) >= 1
    q = vecs.filter(F.col("vec_id") < ANN_Q).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"], r["cosine"])
        for r in probe_topk(spark, aidx, q).collect()
    )
    want = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"], r["cosine"])
        for r in ann_ivf_topk(spark, SF).collect()
    )
    assert got == want and len(got) > 0


def test_bloom_stream_equals_oneshot_and_rerun_noop(spark, tmp_path):
    from data_ingestion_lambda_spark.operators.bloom_store import _fps, read_bloom
    from data_ingestion_lambda_spark.plans.llm_ops import bloom_words
    from data_ingestion_lambda_spark.streaming.index_streams import (
        run_bloom_update_available_now,
    )

    docs = _docs(spark)
    src, ckpt, idx = (str(tmp_path / d) for d in ("src", "ckpt", "bloom"))
    drop2 = _two_drops(docs, src, F.col("doc_id") % 2 == 0)
    assert len(run_bloom_update_available_now(spark, src, idx, ckpt)) >= 1
    drop2()
    assert len(run_bloom_update_available_now(spark, src, idx, ckpt)) >= 1

    def rows():
        return sorted(map(tuple, read_bloom(spark, idx).collect()))

    got = rows()
    assert got == sorted(map(tuple, bloom_words(_fps(docs)).collect()))
    assert run_bloom_update_available_now(spark, src, idx, ckpt) == []
    assert rows() == got


def test_dsir_stream_equals_oneshot_and_rerun_noop(spark, tmp_path):
    from data_ingestion_lambda_spark.operators.dsir_store import read_dsir_stats
    from data_ingestion_lambda_spark.plans.llm_ops import dsir_features, dsir_stats
    from data_ingestion_lambda_spark.streaming.index_streams import (
        run_dsir_update_available_now,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "lang", "text"
    )
    src, ckpt, idx = (str(tmp_path / d) for d in ("src", "ckpt", "dsir"))
    drop2 = _two_drops(docs, src, F.col("doc_id") % 2 == 0)
    assert len(run_dsir_update_available_now(spark, src, idx, ckpt)) >= 1
    drop2()
    assert len(run_dsir_update_available_now(spark, src, idx, ckpt)) >= 1

    def rows():
        return sorted(map(tuple, read_dsir_stats(spark, idx).collect()))

    got = rows()
    oneshot = dsir_stats(
        dsir_features(
            docs.select("doc_id", (F.col("lang") == "en").alias("is_t"), "text")
        )
    )
    assert got == sorted(map(tuple, oneshot.collect()))
    assert run_dsir_update_available_now(spark, src, idx, ckpt) == []
    assert rows() == got


def test_cli_bloom_and_dsir_stores(spark, tmp_path, capsys):
    """Round-9 CLI wirings: bloom-store apply+stream+screen and
    dsir-store apply+score round-trip through main()."""
    import json

    from data_ingestion_lambda_spark.cli import main

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "lang", "source", "text"
    )
    members = docs.filter(F.col("source") == "src0").select("doc_id", "text")
    msrc = str(tmp_path / "members.parquet")
    members.write.parquet(msrc)
    probes = str(tmp_path / "probes.parquet")
    docs.select("doc_id", "text").write.parquet(probes)

    bidx = str(tmp_path / "bloom_idx")
    rc = main(
        ["bloom-store", "--index", bidx, "--batch", msrc, "--date", "2025-07-01",
         "--screen", probes]
    )
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["statusCode"] == 200
    assert rep["screened"] == docs.count()
    assert rep["hits"] >= members.count(), "no false negatives"

    dsrc = str(tmp_path / "docs.parquet")
    docs.select("doc_id", "lang", "text").write.parquet(dsrc)
    didx = str(tmp_path / "dsir_idx")
    rc = main(
        ["dsir-store", "--index", didx,
         "--stream-source", dsrc, "--checkpoint", str(tmp_path / "dckpt")]
    )
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["statusCode"] == 200 and len(rep["batches"]) >= 1
    rc = main(["dsir-store", "--index", didx, "--score", dsrc])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["statusCode"] == 200 and rep["scored"] > 0


def test_touch_stream_equals_oneshot_any_split(spark, tmp_path):
    from data_ingestion_lambda_spark.operators.touch_store import (
        _user_state,
        read_touch_state,
    )
    from data_ingestion_lambda_spark.streaming.index_streams import (
        run_touch_update_available_now,
    )

    events = spark.read.parquet(f"{SF}/events.parquet").select(
        "event_id", "user_id", "event_type"
    )
    src, ckpt, idx = (str(tmp_path / d) for d in ("src", "ckpt", "touch"))
    drop2 = _two_drops(events, src, F.col("event_id") % 2 == 0)
    assert len(run_touch_update_available_now(spark, src, idx, ckpt)) >= 1
    drop2()
    assert len(run_touch_update_available_now(spark, src, idx, ckpt)) >= 1

    def rows():
        return sorted(map(tuple, read_touch_state(spark, idx).collect()))

    got = rows()
    assert got == sorted(map(tuple, _user_state(events).collect()))
    assert run_touch_update_available_now(spark, src, idx, ckpt) == []
    assert rows() == got
