"""The one availableNow driver (streaming/driver.py).

The static test needs no Spark: it reads the package's syntax trees, so
docstrings and comments that name ``writeStream`` or the trigger do not
count. The contract tests drain a tiny parquet source.
"""

from __future__ import annotations

import ast
import os
from pathlib import Path

import pytest

PACKAGE = Path(__file__).resolve().parent.parent / "data_ingestion_lambda_spark"


def _stream_starts() -> tuple[list[str], list[str]]:
    """(files with a ``.writeStream`` access, files with a
    ``.trigger(availableNow=True)`` call), one entry per occurrence."""
    write_streams, triggers = [], []
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = str(path.relative_to(PACKAGE))
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Attribute) and node.attr == "writeStream":
                write_streams.append(rel)
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "trigger"
                and any(
                    kw.arg == "availableNow"
                    and isinstance(kw.value, ast.Constant)
                    and kw.value.value is True
                    for kw in node.keywords
                )
            ):
                triggers.append(rel)
    return write_streams, triggers


def test_one_writestream_and_one_available_now_trigger():
    write_streams, triggers = _stream_starts()
    assert write_streams == ["streaming/driver.py"]
    assert triggers == ["streaming/driver.py"]


def _commits(ckpt: str) -> list[str]:
    path = os.path.join(ckpt, "commits")
    if not os.path.isdir(path):
        return []
    return sorted(n for n in os.listdir(path) if not n.startswith("."))


@pytest.fixture
def source(spark, tmp_path):
    """Three one-row parquet files, drained one file per micro-batch."""
    from data_ingestion_lambda_spark.streaming.driver import paced_reader

    src = str(tmp_path / "src")
    for i in range(3):
        spark.createDataFrame([(i,)], "v long").coalesce(1).write.parquet(f"{src}/f{i}")
    return paced_reader(spark, 1).schema("v long").option(
        "recursiveFileLookup", True
    ).parquet(src)


def test_drain_returns_results_in_batch_order_and_drops_none(source, tmp_path):
    from data_ingestion_lambda_spark.streaming.driver import drain

    ckpt = str(tmp_path / "ckpt")

    def body(batch, batch_id):
        if batch_id == 1:
            return None
        return (batch_id, batch.count())

    assert drain(source, ckpt, body) == [(0, 1), (2, 1)]
    assert _commits(ckpt) == ["0", "1", "2"]

    # nothing new: no batch runs and nothing is committed
    assert drain(source, ckpt, body) == []
    assert _commits(ckpt) == ["0", "1", "2"]


def test_failed_batch_is_not_committed_and_replays(source, tmp_path):
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from data_ingestion_lambda_spark.streaming.driver import drain

    ckpt = str(tmp_path / "ckpt")

    def failing(batch, batch_id):
        raise RuntimeError(f"body failed on batch {batch_id}")

    with pytest.raises(StreamingQueryException, match="body failed on batch 0"):
        drain(source, ckpt, failing)
    assert _commits(ckpt) == []

    ran = drain(source, ckpt, lambda batch, batch_id: batch_id)
    assert ran == [0, 1, 2]
    assert _commits(ckpt) == ["0", "1", "2"]
