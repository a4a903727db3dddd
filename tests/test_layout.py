"""``operators/layout.py``: the one rule every store lists its partitions
and markers by, and the static check that partition deletes and renames
happen nowhere else."""

from __future__ import annotations

import ast
from pathlib import Path

from data_ingestion_lambda_spark.operators.layout import partition_values


def test_partition_values_rule(spark, tmp_path):
    root = tmp_path / "table"
    assert partition_values(spark, str(root), "date") == []  # missing dir

    for name in (
        "date=2025-05-10",
        "date=2025-05-02",
        "date=0000-00-00",
        ".staging-0123abcd",
        ".staging-0123abcd/date=2025-05-03",
        ".compact-staging",
        "_horizon=2025-05-02",
        "_keyed_by=date",
        "ingest_batch=7",
    ):
        (root / name).mkdir(parents=True)
    (root / "date=2025-05-01").write_text("a stray file, not a partition")
    (root / "_SUCCESS").write_text("")

    # only directories named <key>= count; swap dirs, markers and other
    # keys are never data values; sorted as strings
    assert partition_values(spark, str(root), "date") == [
        "0000-00-00",
        "2025-05-02",
        "2025-05-10",
    ]
    # a marker is read by its own key
    assert partition_values(spark, str(root), "_horizon") == ["2025-05-02"]
    assert partition_values(spark, str(root), "_keyed_by") == ["date"]
    # string order, not numeric
    for v in ("10", "9"):
        (root / f"ingest_batch={v}").mkdir()
    assert partition_values(spark, str(root), "ingest_batch") == ["10", "7", "9"]


PACKAGE = Path(__file__).resolve().parent.parent / "data_ingestion_lambda_spark"

# The Hadoop deletes and renames allowed outside operators/layout.py, by
# (file, function): swaps of other shapes and marker resets, none of
# them a partition of a date-keyed table or store.
SWAP_ALLOWLIST = {
    ("operators/scd2.py", "_staged_swap"),  # whole-table sibling-dir swap
    ("operators/snapshot.py", "_fs_write_json_atomic"),  # manifests
    ("operators/snapshot.py", "expire_snapshots"),
    ("operators/snapshot.py", "erase_snapshot_versions"),
    ("operators/base_fold.py", "base_fold"),  # the stale _horizon marker
    ("operators/ann_index.py", "train_index"),  # untrained-quantizer reset
}


def _fs_mutations() -> list[tuple[str, str]]:
    """(file, enclosing function) of every ``.delete(``/``.rename(`` call
    in the package whose receiver is not the ``os`` module (local-file
    renames are not Hadoop calls). Read from the syntax trees, so no
    Spark is needed and comments do not count."""
    found = []
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = str(path.relative_to(PACKAGE))

        def visit(node, func):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                func = node.name
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("delete", "rename")
                and not (
                    isinstance(node.func.value, ast.Name)
                    and node.func.value.id in ("os", "_os")
                )
            ):
                found.append((rel, func))
            for child in ast.iter_child_nodes(node):
                visit(child, func)

        visit(ast.parse(path.read_text()), None)
    return found


def test_partition_deletes_and_renames_go_through_layout():
    outside = {
        site for site in _fs_mutations() if site[0] != "operators/layout.py"
    }
    assert outside - SWAP_ALLOWLIST == set()
