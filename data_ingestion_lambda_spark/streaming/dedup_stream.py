"""Streaming front end for the maintained dedup gate — the composition
of the two halves of this repo's daily-loop story: Structured
Streaming's file discovery/checkpointing (streaming/index_streams.py::
run_store_available_now, over the gate's store record) DRIVES
the persisted-index gate (operators/dedup_gate.py), so "a new document
drop landed" → "it was probed against everything already accepted and
its signatures joined the index" is one unattended invocation.

Reference intent: the reference's scheduled handler discovers new
files, processes exactly the new ones against its stored table, and
records progress (src/lambda_handler.py:38-102,
src/s3_processor.py:113-158); this lane is that loop with the dedup
gate as the per-batch body and the stream's offset log as the
checkpoint.

Exactly-once shape: foreachBatch is at-least-once, and the gate is
already idempotent PER PARTITION KEY — so the micro-batch id becomes
the key (``b<batch_id>``): a replayed batch re-probes with its own
partition excluded and overwrites only its own partition, which makes
the replay a bitwise no-op (the same batch-id-keyed sink idiom as the
gap-histogram ledger, streaming/events.py). The gate's equivalence
contract is inherited, not re-proved: however the file source groups
files into micro-batches, the union of the emitted flag rows is the
one-shot full-corpus pair set, and the index converges to
``minhash_sig_table`` of everything ingested (pinned in
tests/test_dedup_stream.py).

Scale: ``maxFilesPerTrigger`` bounds a micro-batch exactly as it does
for ingestion; each batch pays batch-signatures + index probe (the
gate's measured economics — flat per-day under corpus growth,
SCALE.md), and the stream adds only file discovery on top.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from data_ingestion_lambda_spark.operators.dedup_gate import STORE
from data_ingestion_lambda_spark.streaming.index_streams import run_store_available_now

_MODE_SCHEMA = {
    "minhash": "doc_id bigint, text string",
    "exact": "doc_id bigint, text string",
    "embedding": "doc_id bigint, embedding array<float>",
}


def run_dedup_gate_available_now(
    spark: SparkSession,
    source_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    matches_dir: str | None = None,
    mode: str = "minhash",
    max_files_per_trigger: int | None = None,
) -> list[dict]:
    """One scheduled 'invocation': drain every document file not yet in
    the offset log, gate each micro-batch against the persisted index
    (probe, optionally flag, append signatures), then stop. Returns the
    per-batch gate reports in processing order; a no-op run (nothing
    new) returns []. Re-running later picks up only files that landed
    since — the checkpoint, not a date convention, defines "new"."""
    return run_store_available_now(
        STORE,
        spark,
        source_dir,
        index_dir,
        checkpoint_dir,
        max_files_per_trigger,
        schema=_MODE_SCHEMA[mode],
        matches_dir=matches_dir,
        mode=mode,
    )
