"""Streaming fronts for the maintained stores: Structured Streaming's file
discovery and offset log DRIVE a persisted store's per-batch land, so "a
new drop landed" → "the store extended" is one unattended invocation.

Reference intent: the reference's scheduled handler discovers new files,
processes exactly the new ones against its stored table, and records
progress (src/lambda_handler.py:38-102, src/s3_processor.py:113-158);
these fronts are that loop with a store's land as the body and the
stream's checkpoint as the progress record.

Two entry points:

- ``drain_files``: every parquet file the offset log has not seen, in
  micro-batches through ``body(batch, key)``; the corpus-build front
  (operators/corpus_build.py) drives its gate-and-ledger pass with it;
- ``run_store_available_now``: the one runner of every streamed store,
  built from the store's record (operators/store_record.py): its
  pre-stream refusals, its stream schema, its land (the store's
  ``apply`` unless it lands differently) and its auto-compaction. The
  ``run_*_available_now`` names below bind it to one store each, and
  the dedup gate's front (streaming/dedup_stream.py) picks its schema
  by mode.

Exactly-once shape: foreachBatch is at-least-once, and every land is
idempotent PER PARTITION KEY — so the micro-batch id becomes the key
(``layout.batch_key``, ``b<batch_id>``): a replayed batch overwrites
only its own partition through the one staged swap
(``layout.replace_partitions``), making the replay a bitwise no-op. Each
store's batch-split-invariance is inherited from its operator module,
not re-proved:

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
  before the stream starts and on every land (operators/dsir_store.py);
- touch-state masks fold by bit_or/max per user — idempotent AND
  split-agnostic (operators/touch_store.py; the Markov journey store
  stays day-pure by design, like the calendar attribution store).

All are pinned (tests/test_index_streams.py,
tests/test_attribution_stream.py): streamed N-trigger state == the
one-shot operator, and a re-run with nothing new is a checkpointed
no-op.

Scale: ``maxFilesPerTrigger`` bounds a micro-batch exactly as it does
for ingestion; each batch pays only its own land plus the partition
swap, and the stream adds file discovery on top.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession

from data_ingestion_lambda_spark.operators.layout import batch_key
from data_ingestion_lambda_spark.operators.store_record import StoreRecord, store_record
from data_ingestion_lambda_spark.sources.catalog import normalize_event_ts
from data_ingestion_lambda_spark.streaming.driver import drain, paced_reader


def drain_files(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    schema: str,
    body,
    max_files_per_trigger: int | None = None,
) -> list[dict]:
    """Drain every parquet file under ``source_dir`` that the offset log has
    not seen through ``body(batch_df, batch_key(batch_id))``, skipping
    empty micro-batches. Returns the per-batch reports in batch order."""
    stream = (
        paced_reader(spark, max_files_per_trigger)
        .schema(schema)
        .option("recursiveFileLookup", True)
        .parquet(source_dir)
    )

    def _apply(batch: DataFrame, batch_id: int) -> dict | None:
        if batch.isEmpty():
            return None
        out = body(batch, batch_key(batch_id))
        return out if isinstance(out, dict) else {"batch": batch_id}

    return drain(stream, checkpoint_dir, _apply)


def run_store_available_now(
    store: StoreRecord,
    spark: SparkSession,
    source_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
    auto_compact_max_dirs: int | None = None,
    schema: str | None = None,
    **opts,
) -> list[dict]:
    """Drain new files into ``store`` at ``index_dir``: its pre-stream
    refusals first, then each micro-batch through its land with ``opts``
    (an event batch's ``ts`` normalized as the CLI's ``--batch`` read
    does). Returns the land reports, then ``{"auto_compact": policy}``
    when ``auto_compact_max_dirs`` opts in; the fold key is capped at the
    checkpoint's committed front, so a land's horizon refusal never
    wedges the stream. ``schema`` overrides the store's stream schema."""
    if store.pre_stream is not None:
        store.pre_stream(spark, index_dir, **opts)
    land = store.land or store.apply

    def _land(batch: DataFrame, key: str) -> dict:
        batch = normalize_event_ts(batch) if store.events else batch
        return land(spark, index_dir, batch, key, **opts)

    schema = schema or store.stream_schema
    reports = drain_files(
        spark, source_dir, checkpoint_dir, schema, _land, max_files_per_trigger
    )
    policy = store.auto_compact(spark, index_dir, auto_compact_max_dirs, checkpoint_dir)
    return reports + ([] if policy is None else [{"auto_compact": policy}])


run_vocab_update_available_now = partial(run_store_available_now, store_record("vocab"))
run_postings_update_available_now = partial(
    run_store_available_now, store_record("search-index")
)
run_ann_append_available_now = partial(run_store_available_now, store_record("ann-index"))
run_session_update_available_now = partial(
    run_store_available_now, store_record("session-store")
)
run_cms_update_available_now = partial(run_store_available_now, store_record("cms-store"))
run_attribution_update_available_now = partial(
    run_store_available_now, store_record("attribution-store")
)
run_bloom_update_available_now = partial(run_store_available_now, store_record("bloom-store"))
run_dsir_update_available_now = partial(run_store_available_now, store_record("dsir-store"))
run_touch_update_available_now = partial(run_store_available_now, store_record("touch-store"))
