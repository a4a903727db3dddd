"""The one availableNow driver: every stream in the package starts,
drains and stops here.

The reference's unit of work is one scheduled run: find the new files,
process each batch, record progress (src/lambda_handler.py:38-102). In
Structured Streaming terms (Armbrust et al., SIGMOD 2018) that is a
run-once trigger over a file source whose sink is keyed by the epoch
id: ``drain`` starts the query with ``trigger(availableNow=True)``, so it
processes every file the checkpoint's offset log has not seen, in as
many micro-batches as the reader's pacing asks for, and stops. A body
that fails fails the query before its batch commits, so the next run
replays that batch id; every body therefore writes output keyed by its
batch id (or merges idempotently), and a replay rewrites only its own
output.

Empty batches are the bodies' business, not the driver's: a
``batch.isEmpty()`` here would cost every micro-batch one more Spark job,
and the consumption ingest already learns its row counts from its one
observed pass over the batch.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamReader


def paced_reader(
    spark: SparkSession, max_files_per_trigger: int | None
) -> DataStreamReader:
    """``spark.readStream``, bounded to ``max_files_per_trigger`` files per
    micro-batch when that is given (falsy = no bound)."""
    reader = spark.readStream
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader


def drain(
    stream: DataFrame,
    checkpoint_dir: str,
    body: Callable[[DataFrame, int], Any],
    output_mode: str = "append",
) -> list:
    """Run ``body(batch, batch_id)`` over every micro-batch of ``stream``
    not yet committed in ``checkpoint_dir``, then stop. Returns the
    bodies' non-``None`` results in batch order; a run with nothing new
    returns []. A body's exception fails the query (awaitTermination
    raises ``StreamingQueryException``) and its batch stays uncommitted.
    ``output_mode`` follows the query's shape: ``"update"`` for a
    watermarked aggregation that restates windows, else ``"append"``."""
    results: list = []

    def _batch(batch: DataFrame, batch_id: int) -> None:
        out = body(batch, batch_id)
        if out is not None:
            results.append(out)

    query = (
        stream.writeStream.outputMode(output_mode)
        .foreachBatch(_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return results
