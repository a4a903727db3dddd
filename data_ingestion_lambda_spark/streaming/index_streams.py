"""Streaming fronts for the remaining maintained indexes — vocab model,
BM25 postings, IVF-ANN cells, the incremental session store, the CMS
store, and (r9) the ANY-SPLIT attribution ledger — the
same composition the dedup gate (streaming/dedup_stream.py), drift
monitor, feature store and heavy-hitter store already have: Structured
Streaming's file discovery/offset log DRIVES the persisted index's
per-batch apply, so "a new drop landed" → "the index extended" is one
unattended invocation.

Reference intent: the reference's scheduled handler discovers new files,
processes exactly the new ones against its stored table, and records
progress (src/lambda_handler.py:38-102, src/s3_processor.py:113-158);
these lanes are that loop with each index's apply as the body and the
stream's checkpoint as the progress record.

Exactly-once shape (shared by every front here and by the dedup-gate and
corpus-build fronts, which reuse ``_drain``): foreachBatch is at-least-once,
and every apply here is idempotent PER PARTITION KEY — so the
micro-batch id becomes the key (``b<batch_id>``): a replayed batch
overwrites only its own partition, making the replay a bitwise no-op
(the batch-id-keyed sink idiom). Each index's batch-split-invariance is
inherited from its operator module, not re-proved:

- vocab counts and postings/doclen/stats rows are ADDITIVE — any split
  sums to the same model (operators/vocab.py, operators/postings.py);
- IVF cell assignment is a per-vector argmax against the FROZEN
  quantizer — batch-split-invariant by construction
  (operators/ann_index.py; ``train_index`` must have run first);
- partial sessions are chains, and the running-max seam merge is exact
  for ARBITRARY splits (operators/session_store.py::
  merge_partial_sessions — the generalization that lets this front drop
  the calendar ledger's day-purity requirement);
- CMS grids sum cell-wise (operators/cms_store.py);
- attribution lands RAW batch-keyed purchases/clicks and moves ALL
  window state to a date-pruned read-side join, exact for any split
  (operators/attribution_store.py::land_attribution_batch — the
  calendar attribution store's day-pure apply REFUSES split days, so
  this front gets its own representation);
- Bloom filter words fold by bit_or — idempotent as well as
  associative, so even OVERLAPPING batches are safe
  (operators/bloom_store.py);
- DSIR bucket counts are additive, with the _target= marker checked
  per run (operators/dsir_store.py);
- touch-state masks fold by bit_or/max per user — idempotent AND
  split-agnostic (operators/touch_store.py; the Markov journey store
  stays day-pure by design, like the calendar attribution store).

All are pinned (tests/test_index_streams.py,
tests/test_attribution_stream.py): streamed N-trigger state == the
one-shot operator, and a re-run with nothing new is a checkpointed
no-op.

Scale: ``maxFilesPerTrigger`` bounds a micro-batch exactly as it does
for ingestion; each batch pays only its own tokenize/assign/sessionize
plus the partition swap, and the stream adds file discovery on top.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from data_ingestion_lambda_spark.operators.base_fold import (
    auto_compact_epilogue,
    check_not_below_horizon,
)
from data_ingestion_lambda_spark.operators.layout import hadoop_fs
from data_ingestion_lambda_spark.sources.catalog import normalize_event_ts
from data_ingestion_lambda_spark.streaming.driver import drain, paced_reader

DOCS_SCHEMA = "doc_id bigint, text string"
VECS_SCHEMA = "vec_id bigint, embedding array<float>"
EVENTS_SCHEMA = "event_id bigint, user_id bigint, ts timestamp"


def _drain(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    schema: str,
    body,
    max_files_per_trigger: int | None,
    auto_compact_max_dirs: int | None = None,
    ledger_dir: str | None = None,
    compact_fn=None,
    **epilogue,
) -> list[dict]:
    """Drain every parquet file not yet in the offset log through
    ``body(batch_df, key)`` (streaming/driver.py), skipping empty
    micro-batches; ``key`` is ``b<batch_id>``. Returns the per-batch
    reports in processing order (a no-op run returns []), then
    ``{"auto_compact": policy}`` when ``auto_compact_max_dirs`` opts in
    to ``operators/base_fold.py::auto_compact_epilogue`` over
    ``ledger_dir`` (``epilogue`` carries its count_dir/part_key/base_key).
    The fold key is capped at the checkpoint's committed front, so the
    land-side ``check_not_below_horizon`` refusals never wedge the
    stream."""
    stream = (
        paced_reader(spark, max_files_per_trigger)
        .schema(schema)
        .option("recursiveFileLookup", True)
        .parquet(source_dir)
    )

    def _apply(batch: DataFrame, batch_id: int) -> dict | None:
        if batch.isEmpty():
            return None
        out = body(batch, f"b{batch_id:09d}")
        return out if isinstance(out, dict) else {"batch": batch_id}

    reports = drain(stream, checkpoint_dir, _apply)
    policy = auto_compact_epilogue(
        spark,
        ledger_dir,
        max_dirs=auto_compact_max_dirs,
        compact_fn=compact_fn,
        checkpoint_dir=checkpoint_dir,
        **epilogue,
    )
    if policy is not None:
        reports.append({"auto_compact": policy})
    return reports


def run_vocab_update_available_now(
    spark: SparkSession,
    source_dir: str,
    vocab_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
    order: int = 1,
    auto_compact_max_dirs: int | None = None,
) -> list[dict]:
    """Drain new document files into the maintained n-gram model: each
    micro-batch's (tok, cnt) rows land in their own partition; the model
    read (``read_vocab``) sums across partitions, so the streamed model
    equals ``update_vocab`` over everything ingested, any split.
    ``order`` selects the n-gram order exactly as in update_vocab (the
    _order marker is written/checked per batch, so a stream pointed at a
    mismatched directory fails its first trigger loudly)."""
    from data_ingestion_lambda_spark.operators.vocab import compact_vocab, update_vocab

    return _drain(
        spark,
        source_dir,
        checkpoint_dir,
        DOCS_SCHEMA,
        lambda batch, key: update_vocab(spark, vocab_dir, batch, key, order=order),
        max_files_per_trigger,
        auto_compact_max_dirs,
        vocab_dir,
        lambda kf: compact_vocab(spark, vocab_dir, kf),
    )


def run_postings_update_available_now(
    spark: SparkSession,
    source_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
    auto_compact_max_dirs: int | None = None,
) -> list[dict]:
    """Drain new document files into the maintained BM25 postings index:
    each micro-batch tokenizes ONCE and lands its postings/doclen/stats
    rows in its own partition (token-bucket sub-partitions ride along);
    ``search_topk`` reads sums/pruned scans, so the streamed index
    serves the same results as daily ``update_postings`` applies."""
    from data_ingestion_lambda_spark.operators.postings import (
        compact_postings_index,
        update_postings,
    )

    return _drain(
        spark,
        source_dir,
        checkpoint_dir,
        DOCS_SCHEMA,
        lambda batch, key: update_postings(spark, index_dir, batch, key),
        max_files_per_trigger,
        auto_compact_max_dirs,
        index_dir,
        lambda kf: compact_postings_index(spark, index_dir, kf),
        count_dir=f"{index_dir}/doclen",
    )


def run_ann_append_available_now(
    spark: SparkSession,
    source_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
    auto_compact_max_dirs: int | None = None,
) -> list[dict]:
    """Drain new vector files into the maintained IVF index: each
    micro-batch is assigned against the FROZEN quantizer and lands under
    its own date partition with cell sub-partitions — probes
    partition-prune identically however the stream split the corpus.
    ``train_index`` must have run first; refuses loudly otherwise (a
    quantizer trained mid-stream would assign different batches with
    different models, breaking the one-shot equivalence)."""
    from data_ingestion_lambda_spark.operators.ann_index import (
        append_batch,
        compact_index_cells,
    )

    fs, path_cls = hadoop_fs(spark, index_dir)
    if not fs.exists(path_cls(f"{index_dir}/centroids")):
        raise ValueError(
            f"run_ann_append_available_now: {index_dir}/centroids does not "
            "exist — train_index must freeze the quantizer before any "
            "streamed append (a mid-stream retrain would assign batches "
            "against different models)"
        )
    return _drain(
        spark,
        source_dir,
        checkpoint_dir,
        VECS_SCHEMA,
        lambda batch, key: append_batch(spark, index_dir, batch, key),
        max_files_per_trigger,
        auto_compact_max_dirs,
        index_dir,
        lambda kf: compact_index_cells(spark, index_dir, kf),
        count_dir=f"{index_dir}/cells",
    )


def run_session_update_available_now(
    spark: SparkSession,
    source_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
    schema: str = EVENTS_SCHEMA,
    auto_compact_max_dirs: int | None = None,
) -> list[dict]:
    """Drain new event files into the incremental session store: each
    micro-batch's partial sessions (chains under the gap rule, within
    the batch only) land in their own partition — NO day-purity
    requirement, because the running-max seam merge reconstructs the
    one-shot session set from any split (the proof in
    merge_partial_sessions). ``read_sessions`` /
    ``read_user_session_stats`` serve the merged state as usual.

    Raw generator drops carry ts as parquet TIMESTAMP(NANOS) — under
    the session factory's nanosAsLong conf that surfaces as a LONG, so
    the default ``ts timestamp`` schema would fail the read; pass
    ``schema="event_id bigint, user_id bigint, ts bigint"`` for such
    drops and the body applies the same epoch-ns normalization as the
    CLI's --batch path (TIMESTAMP_NTZ likewise relabels to UTC)."""
    from data_ingestion_lambda_spark.operators.session_store import (
        compact_session_store,
        land_session_batch,
    )

    def _body(batch: DataFrame, key: str) -> dict:
        land_session_batch(spark, index_dir, normalize_event_ts(batch), key)
        return {"key": key}

    return _drain(
        spark,
        source_dir,
        checkpoint_dir,
        schema,
        _body,
        max_files_per_trigger,
        auto_compact_max_dirs,
        index_dir,
        lambda kf: compact_session_store(spark, index_dir, kf),
    )


ITEMS_SCHEMA = "item string"


def run_cms_update_available_now(
    spark: SparkSession,
    source_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
    auto_compact_max_dirs: int | None = None,
) -> list[dict]:
    """Drain new item files into the maintained Count-Min store: each
    micro-batch's d x w grid lands in its own ``ingest_batch=<id>``
    partition (the additive-ledger-carrying-a-sketch idiom of
    stream_heavy_hitters_to_table); CMS grids sum cell-wise, so the
    read (operators/cms_store.py::read_cms) equals the one-shot sketch
    over everything ingested, any trigger split. Replays overwrite only
    their own partition."""
    from data_ingestion_lambda_spark.operators.cms_store import (
        check_keying_marker,
        compact_cms_store,
    )
    from data_ingestion_lambda_spark.plans.profiling import cms_counters

    # one directory, one keying: refuse an index the CLI keys by date=
    check_keying_marker(spark, index_dir, "ingest_batch")

    def _body(batch: DataFrame, key: str) -> dict:
        # a checkpoint replay of a batch id folded into the base would
        # double-count (its partition no longer overwrites itself)
        check_not_below_horizon(spark, index_dir, key, "cms stream land")
        (
            cms_counters(batch)
            .write.mode("overwrite")
            .parquet(f"{index_dir}/ingest_batch={key}")
        )
        return {"key": key}

    return _drain(
        spark,
        source_dir,
        checkpoint_dir,
        ITEMS_SCHEMA,
        _body,
        max_files_per_trigger,
        auto_compact_max_dirs,
        index_dir,
        lambda kf: compact_cms_store(spark, index_dir, kf),
    )


ATTR_EVENTS_SCHEMA = (
    "event_id bigint, user_id bigint, ts timestamp, "
    "event_type string, value double"
)


def run_attribution_update_available_now(
    spark: SparkSession,
    source_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
    schema: str = ATTR_EVENTS_SCHEMA,
    auto_compact_max_dirs: int | None = None,
) -> list[dict]:
    """Drain new event files into the ANY-SPLIT attribution ledger —
    the last maintained store to gain a streaming front, and the one
    whose calendar form REFUSES this (its day-pure apply cannot accept
    a day spanning triggers). Each micro-batch lands raw purchases and
    clicks in its own ``ingest_batch=<id>`` partition, day-sliced
    inside it (operators/attribution_store.py::land_attribution_batch);
    the ``read_attribution*_stream`` reads reconstruct last-touch /
    linear / position attribution from a date-pruned 8-day window join,
    exact for ANY split (pinned: N-trigger scrambled split == the
    one-shot lanes; replays are checkpointed no-ops).

    The same ts normalization as the session front: raw generator
    drops carry parquet TIMESTAMP(NANOS) (a LONG under the session's
    nanosAsLong conf) or TIMESTAMP_NTZ — pass the matching schema and
    the body converts."""
    from data_ingestion_lambda_spark.operators.attribution_store import (
        LEDGER_BASE_KEY,
        compact_attribution_ledger,
        land_attribution_batch,
    )

    return _drain(
        spark,
        source_dir,
        checkpoint_dir,
        schema,
        lambda batch, key: land_attribution_batch(
            spark, index_dir, normalize_event_ts(batch), key
        ),
        max_files_per_trigger,
        auto_compact_max_dirs,
        index_dir,
        lambda kf: compact_attribution_ledger(spark, index_dir, kf),
        count_dir=f"{index_dir}/stream_purchases",
        part_key="ingest_batch",
        base_key=LEDGER_BASE_KEY,
    )


DOCS_LANG_SCHEMA = "doc_id bigint, lang string, text string"


def run_bloom_update_available_now(
    spark: SparkSession,
    source_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
    m: int | None = None,
    k: int | None = None,
    auto_compact_max_dirs: int | None = None,
) -> list[dict]:
    """Drain new member-document files into the maintained Bloom store:
    each micro-batch's filter words land in their own
    ``ingest_batch=<id>`` partition; bit_or is associative, commutative
    and IDEMPOTENT, so the read (operators/bloom_store.py::read_bloom)
    equals the one-shot filter over everything ingested under ANY
    trigger split — even overlapping batches cannot corrupt it (a set
    bit set again is the same bit). Replays overwrite only their own
    partition. The (m, k) sizing defaults to the lane's and is recorded
    in / checked against the store's ``_sizing=`` marker (r10) — a
    restart with a different sizing refuses rather than corrupting."""
    from data_ingestion_lambda_spark.operators.bloom_store import (
        _check_sizing_marker,
        _fps,
        compact_bloom_store,
    )
    from data_ingestion_lambda_spark.operators.cms_store import check_keying_marker
    from data_ingestion_lambda_spark.plans.llm_ops import (
        _BLOOM_K,
        _BLOOM_M,
        bloom_check_sizing,
        bloom_words,
    )

    m = _BLOOM_M if m is None else m
    k = _BLOOM_K if k is None else k
    bloom_check_sizing(m, k)
    check_keying_marker(spark, index_dir, "ingest_batch")
    _check_sizing_marker(spark, index_dir, m, k)

    def _body(batch: DataFrame, key: str) -> dict:
        check_not_below_horizon(spark, index_dir, key, "bloom stream land")
        (
            bloom_words(_fps(batch), m, k)
            .write.mode("overwrite")
            .parquet(f"{index_dir}/ingest_batch={key}")
        )
        return {"key": key}

    return _drain(
        spark,
        source_dir,
        checkpoint_dir,
        DOCS_SCHEMA,
        _body,
        max_files_per_trigger,
        auto_compact_max_dirs,
        index_dir,
        lambda kf: compact_bloom_store(spark, index_dir, kf),
    )


def run_dsir_update_available_now(
    spark: SparkSession,
    source_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
    target_lang: str = "en",
    auto_compact_max_dirs: int | None = None,
) -> list[dict]:
    """Drain new document files into the maintained DSIR model store:
    each micro-batch's <=1024 (bucket, cnt_s, cnt_t) rows land in their
    own ``ingest_batch=<id>`` partition; counts sum bucket-wise, so the
    folded model (operators/dsir_store.py::read_dsir_stats) — and
    therefore every score computed under it — equals the one-shot model
    over everything ingested, any split. Replays overwrite only their
    own partition."""
    from pyspark.sql import functions as F

    from data_ingestion_lambda_spark.operators.cms_store import check_keying_marker
    from data_ingestion_lambda_spark.operators.dsir_store import (
        _check_target_marker,
        compact_dsir_store,
    )
    from data_ingestion_lambda_spark.plans.llm_ops import dsir_features, dsir_stats

    check_keying_marker(spark, index_dir, "ingest_batch")
    _check_target_marker(spark, index_dir, target_lang)

    def _body(batch: DataFrame, key: str) -> dict:
        check_not_below_horizon(spark, index_dir, key, "dsir stream land")
        stats = dsir_stats(
            dsir_features(
                batch.select(
                    "doc_id", (F.col("lang") == target_lang).alias("is_t"), "text"
                )
            )
        )
        stats.write.mode("overwrite").parquet(f"{index_dir}/ingest_batch={key}")
        return {"key": key}

    return _drain(
        spark,
        source_dir,
        checkpoint_dir,
        DOCS_LANG_SCHEMA,
        _body,
        max_files_per_trigger,
        auto_compact_max_dirs,
        index_dir,
        lambda kf: compact_dsir_store(spark, index_dir, kf),
    )


TOUCH_EVENTS_SCHEMA = "event_id bigint, user_id bigint, event_type string"


def run_touch_update_available_now(
    spark: SparkSession,
    source_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
    auto_compact_max_dirs: int | None = None,
) -> list[dict]:
    """Drain new event files into the maintained touch-state store: each
    micro-batch's per-user (mask, conv) rows land in their own
    ``ingest_batch=<id>`` partition; the fold is bit_or/max — idempotent
    AND split-agnostic, so the read equals the one-shot state under ANY
    trigger split, even with re-delivered events. The strongest ledger
    semantics of any maintained store here."""
    from data_ingestion_lambda_spark.operators.cms_store import check_keying_marker
    from data_ingestion_lambda_spark.operators.touch_store import (
        _user_state,
        compact_touch_store,
    )

    check_keying_marker(spark, index_dir, "ingest_batch")

    def _body(batch: DataFrame, key: str) -> dict:
        check_not_below_horizon(spark, index_dir, key, "touch stream land")
        (
            _user_state(batch)
            .write.mode("overwrite")
            .parquet(f"{index_dir}/ingest_batch={key}")
        )
        return {"key": key}

    return _drain(
        spark,
        source_dir,
        checkpoint_dir,
        TOUCH_EVENTS_SCHEMA,
        _body,
        max_files_per_trigger,
        auto_compact_max_dirs,
        index_dir,
        lambda kf: compact_touch_store(spark, index_dir, kf),
    )
