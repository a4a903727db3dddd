"""``layout.partition_values`` — the one rule every store lists its
partitions and markers by."""

from __future__ import annotations

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
