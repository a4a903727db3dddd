"""Where partition directories are written, pinned without a Spark session.

``operators/layout.py::replace_partitions`` is the package's one staged
partition swap, with one crash rule. This check lists every other write
of the form ``<df>.write…parquet(f"…<key>=…")``, a partition path
written by hand, and compares that list with ``ALLOWED``. A new write
of that form fails the check; so does an allowlisted one that is gone,
so the list can only shrink.
"""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "data_ingestion_lambda_spark"
SWAP = PACKAGE / "operators" / "layout.py"

# file (relative to the package) -> (writes, why each stays)
ALLOWED = {
    "streaming/events.py": (
        4,
        "the events ledgers' batch-id lands, whose all-fold compaction "
        "(_compact_batch_ledger) has its own committed-front discipline",
    ),
    "operators/attribution_store.py": (
        2,
        "the any-split stream ledger's two sub-tables, landed day-sliced "
        "inside one ingest_batch= partition each",
    ),
}


def _writes_through(node: ast.AST) -> bool:
    """Does the receiver chain of a call pass through ``.write``?"""
    while isinstance(node, (ast.Attribute, ast.Call)):
        if isinstance(node, ast.Attribute):
            if node.attr == "write":
                return True
            node = node.value
        else:
            node = node.func
    return False


def _partition_path(arg: ast.AST) -> bool:
    return isinstance(arg, ast.JoinedStr) and any(
        isinstance(v, ast.Constant) and "=" in str(v.value) for v in arg.values
    )


def partition_writes() -> Counter:
    found: Counter = Counter()
    for path in sorted(PACKAGE.rglob("*.py")):
        if path == SWAP:
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "parquet"
                and node.args
                and _partition_path(node.args[0])
                and _writes_through(node.func.value)
            ):
                found[str(path.relative_to(PACKAGE))] += 1
    return found


def test_partition_writes_stay_on_the_allowlist():
    found = partition_writes()
    assert found == {f: n for f, (n, _) in ALLOWED.items()}, (
        "partition paths written outside layout.replace_partitions "
        f"changed: {dict(found)}"
    )
    assert "streaming/index_streams.py" not in found


def test_the_check_sees_a_hand_written_partition():
    tree = ast.parse('df.write.mode("overwrite").parquet(f"{d}/ingest_batch={k}")')
    call = next(n for n in ast.walk(tree) if isinstance(n, ast.Call) and n.func.attr == "parquet")
    assert _partition_path(call.args[0]) and _writes_through(call.func.value)
    read = ast.parse('spark.read.parquet(f"{d}/date={k}")').body[0].value
    assert not _writes_through(read.func.value)
