"""CLI entry point (ingest + compact subcommands) and partition compaction."""

from __future__ import annotations

import glob
import json
import os

from pyspark.sql import functions as F

from data_ingestion_lambda_spark import cli
from data_ingestion_lambda_spark.operators.compact import compact_partitions
from data_ingestion_lambda_spark.operators.layout import partition_values
from tests.test_ingestion import HEADER, drop_dir, write_csv


def _parquet_files(target: str, date: str) -> list[str]:
    return glob.glob(os.path.join(target, f"date={date}", "*.parquet"))


def _run_ingest(tmp_path, spark) -> str:
    # The CLI builds its own session via get_spark; reuse the test session
    # (getOrCreate returns it) — just verify the wiring end-to-end.
    src = str(tmp_path / "drops")
    target = str(tmp_path / "consumptions")
    write_csv(drop_dir(src, "2025_05_01"), "consumption_2025_05_01.csv",
              ["01-May-25,CLI001,TechCorp,API,100"])
    write_csv(drop_dir(src, "2025_05_02"), "consumption_2025_05_02.csv",
              ["02-May-25,CLI002,Acme,API,200"])
    rc = cli.main([
        "ingest",
        "--source", src,
        "--target", target,
        "--checkpoint", str(tmp_path / "ckpt"),
    ])
    assert rc == 0
    return target


def test_cli_ingest_reports_dates(spark, tmp_path, capsys):
    target = _run_ingest(tmp_path, spark)
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["statusCode"] == 200
    assert out["processed_dates"] == ["2025-05-01", "2025-05-02"]
    assert spark.read.parquet(target).count() == 2

    # a no-op re-invocation (checkpoint drains nothing) reports NO dates —
    # the per-invocation contract of the reference handler
    rc = cli.main([
        "ingest",
        "--source", str(tmp_path / "drops"),
        "--target", target,
        "--checkpoint", str(tmp_path / "ckpt"),
    ])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["processed_dates"] == []


def test_compact_collapses_small_files(spark, tmp_path):
    target = str(tmp_path / "consumptions")
    # many small appends into one partition
    df = spark.createDataFrame(
        [("2025-05-01", f"CLI{i:03d}", "A", "S", i, None, True) for i in range(20)],
        "date string, client_id string, client_name string, service_name string, "
        "total_consumed_tokens long, updated_at timestamp, is_active boolean",
    ).withColumn("date", F.to_date("date"))
    df.repartition(8).write.partitionBy("date").mode("overwrite").parquet(target)
    assert len(_parquet_files(target, "2025-05-01")) >= 8

    assert partition_values(spark, target, "date") == ["2025-05-01"]
    before = sorted(
        (r["client_id"], r["total_consumed_tokens"])
        for r in spark.read.parquet(target).collect()
    )

    result = compact_partitions(spark, target)
    assert result == {"2025-05-01": 1}
    assert len(_parquet_files(target, "2025-05-01")) == 1
    after = sorted(
        (r["client_id"], r["total_consumed_tokens"])
        for r in spark.read.parquet(target).collect()
    )
    assert after == before


def test_expire_partitions_retention(spark, tmp_path):
    from data_ingestion_lambda_spark.operators.compact import expire_partitions

    target = _run_ingest(tmp_path, spark)
    assert partition_values(spark, target, "date") == ["2025-05-01", "2025-05-02"]
    expired = expire_partitions(spark, target, keep_from="2025-05-02")
    assert expired == ["2025-05-01"]
    assert partition_values(spark, target, "date") == ["2025-05-02"]
    rows = spark.read.parquet(target).collect()
    assert [str(r["date"]) for r in rows] == ["2025-05-02"]


def test_cli_compact_subcommand(spark, tmp_path, capsys):
    target = _run_ingest(tmp_path, spark)
    capsys.readouterr()
    rc = cli.main(["compact", "--target", target])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["compacted"] == {"2025-05-01": 1, "2025-05-02": 1}
    assert spark.read.parquet(target).count() == 2
