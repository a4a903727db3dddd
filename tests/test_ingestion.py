"""End-to-end ingestion tests replaying the reference's data surface
(FIXTURES.md A1 edge cases) through discovery → parse → merge.

Covers: duplicate-key last-writer-wins, multi-format dates, NaN→0 token
coercion, quarantine routing (corrupt rows, bad dates), empty files,
multiple files per date prefix, gap dates + late backfill, idempotent
re-runs, checkpoint restart-resume (streaming).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from data_ingestion_lambda_spark.functions.dates import parse_date_multi
from data_ingestion_lambda_spark.functions.normalize import normalize_consumption
from data_ingestion_lambda_spark.operators.upsert import upsert_into_parquet
from data_ingestion_lambda_spark.sources.csv_source import consumption_csv, read_consumption_csv
from data_ingestion_lambda_spark.streaming.ingest import IngestPaths, run_ingest_available_now

HEADER = "date,client_id,client_name,service_name,total_consumed_tokens"


def write_csv(dirpath: str, name: str, rows: list[str], header: str = HEADER) -> str:
    os.makedirs(dirpath, exist_ok=True)
    p = os.path.join(dirpath, name)
    with open(p, "w") as f:
        f.write("\n".join([header, *rows]) + "\n")
    return p


def drop_dir(tmp, date_us: str) -> str:
    """Source layout mirroring the reference: {prefix}consumption_{YYYY_MM_DD}/"""
    return os.path.join(tmp, f"consumption_{date_us}")


class TestDateParseChain:
    def test_formats(self, spark):
        df = spark.createDataFrame(
            [("01-May-25",), ("2025-05-01",), ("2025_05_01",), ("5/1/2025",), ("garbage",), (None,)],
            "d string",
        )
        got = [r[0] for r in df.select(parse_date_multi("d").alias("p")).collect()]
        assert [str(x) if x else None for x in got] == [
            "2025-05-01", "2025-05-01", "2025-05-01", "2025-05-01", None, None,
        ]


class TestNormalize:
    def test_token_coercion_and_quarantine(self, spark):
        df = spark.createDataFrame(
            [
                ("2025-05-01", "CLI001", "TechCorp", "API Gateway", "1500", None),
                ("2025-05-01", "CLI002", "Acme", "Storage", "", None),  # empty tokens -> 0
                ("2025-05-01", "CLI003", "Acme", "Storage", "abc", None),  # bad tokens -> 0
                ("not-a-date", "CLI004", "Acme", "Storage", "5", None),  # quarantine
                ("2025-05-01", None, "Acme", "Storage", "5", None),  # quarantine
                ("2025-05-01", "CLI005", "Acme", "Storage", "5", "raw,corrupt,line"),  # quarantine
            ],
            "date string, client_id string, client_name string, service_name string, "
            "total_consumed_tokens string, _corrupt_record string",
        )
        good, quar = normalize_consumption(df)
        g = {r["client_id"]: r for r in good.collect()}
        assert set(g) == {"CLI001", "CLI002", "CLI003"}
        assert g["CLI001"]["total_consumed_tokens"] == 1500
        assert g["CLI002"]["total_consumed_tokens"] == 0
        assert g["CLI003"]["total_consumed_tokens"] == 0
        reasons = sorted(r["_reason"] for r in quar.collect())
        assert reasons == ["malformed_row", "missing_client_id", "unparseable_date"]

    def test_missing_column_raises(self, spark):
        df = spark.createDataFrame([("2025-05-01", "CLI001")], "date string, client_id string")
        with pytest.raises(ValueError, match="service_name"):
            normalize_consumption(df)


class TestUpsert:
    def _ingest(self, spark, target, rows):
        df = spark.createDataFrame(
            rows,
            "date string, client_id string, client_name string, service_name string, "
            "total_consumed_tokens string",
        )
        good, _ = normalize_consumption(df.withColumn("_ingest_seq", F.monotonically_increasing_id()))
        upsert_into_parquet(spark, target, good)

    def test_insert_then_update(self, spark, tmp_path):
        target = str(tmp_path / "consumptions")
        self._ingest(spark, target, [("2025-05-01", "CLI001", "TechCorp", "API", "100")])
        first = spark.read.parquet(target).collect()[0]
        assert first["total_consumed_tokens"] == 100
        created_0 = first["created_at"]

        self._ingest(spark, target, [("2025-05-01", "CLI001", "TechCorp2", "API2", "250")])
        rows = spark.read.parquet(target).collect()
        assert len(rows) == 1
        row = rows[0]
        # refreshed payload (src/db_operations.py:80-84 semantics)
        assert row["client_name"] == "TechCorp2"
        assert row["total_consumed_tokens"] == 250
        # created_at preserved from first insert, updated_at refreshed
        assert row["created_at"] == created_0
        assert row["updated_at"] >= created_0

    def test_duplicate_keys_in_one_batch_last_wins(self, spark, tmp_path):
        target = str(tmp_path / "consumptions")
        self._ingest(
            spark,
            target,
            [
                ("2025-05-01", "CLI001", "A", "S", "1"),
                ("2025-05-01", "CLI001", "B", "S", "2"),
                ("2025-05-01", "CLI001", "C", "S", "3"),
            ],
        )
        rows = spark.read.parquet(target).collect()
        assert len(rows) == 1
        assert rows[0]["client_name"] == "C"
        assert rows[0]["total_consumed_tokens"] == 3

    def test_untouched_partitions_survive(self, spark, tmp_path):
        target = str(tmp_path / "consumptions")
        self._ingest(spark, target, [("2025-05-01", "CLI001", "A", "S", "1")])
        self._ingest(spark, target, [("2025-05-02", "CLI001", "A", "S", "2")])
        # update only 05-02; 05-01 partition must be untouched
        self._ingest(spark, target, [("2025-05-02", "CLI001", "A2", "S", "20")])
        got = {str(r["date"]): r["total_consumed_tokens"] for r in spark.read.parquet(target).collect()}
        assert got == {"2025-05-01": 1, "2025-05-02": 20}

    def test_stale_staging_dir_is_invisible_and_harmless(self, spark, tmp_path):
        """A crash can leave a .staging-* dir behind; dot-prefixed dirs are
        ignored by Spark's file listing, so reads and later upserts must be
        unaffected."""
        target = str(tmp_path / "consumptions")
        self._ingest(spark, target, [("2025-05-01", "CLI001", "A", "S", "1")])
        stale = os.path.join(target, ".staging-deadbeef", "date=2025-05-09")
        os.makedirs(stale)
        with open(os.path.join(stale, "part-00000.parquet"), "wb") as f:
            f.write(b"not really parquet")

        assert spark.read.parquet(target).count() == 1  # stale dir invisible
        self._ingest(spark, target, [("2025-05-02", "CLI002", "B", "S", "2")])
        got = {str(r["date"]) for r in spark.read.parquet(target).collect()}
        assert got == {"2025-05-01", "2025-05-02"}

    def test_idempotent_rerun(self, spark, tmp_path):
        target = str(tmp_path / "consumptions")
        batch = [("2025-05-01", "CLI001", "A", "S", "1"), ("2025-05-01", "CLI002", "B", "S", "2")]
        self._ingest(spark, target, batch)
        state1 = sorted(
            (str(r["date"]), r["client_id"], r["client_name"], r["total_consumed_tokens"])
            for r in spark.read.parquet(target).collect()
        )
        self._ingest(spark, target, batch)  # replay
        state2 = sorted(
            (str(r["date"]), r["client_id"], r["client_name"], r["total_consumed_tokens"])
            for r in spark.read.parquet(target).collect()
        )
        assert state1 == state2


class TestBatchCsvSource:
    def test_discovery_and_corrupt_capture(self, spark, tmp_path):
        src = str(tmp_path / "drops")
        write_csv(drop_dir(src, "2025_05_01"), "consumption_2025_05_01.csv",
                  ["01-May-25,CLI001,TechCorp,API,100"])
        write_csv(drop_dir(src, "2025_05_01"), "consumption_2025_05_01_b.csv",
                  ["2025-05-01,CLI002,Acme,API,200"])  # multiple files, one prefix
        write_csv(drop_dir(src, "2025_05_02"), "consumption_2025_05_02.csv",
                  ["02-May-25,CLI001,TechCorp,API,300"])
        write_csv(drop_dir(src, "2025_05_02"), "notes.txt", ["not,a,csv"])  # filename filter

        df = read_consumption_csv(spark, src)
        assert df.count() == 3
        want = {
            "consumption_2025_05_01.csv",
            "consumption_2025_05_01_b.csv",
            "consumption_2025_05_02.csv",
        }
        files = {r["_source_file"].rsplit("/", 1)[-1] for r in df.select("_source_file").distinct().collect()}
        assert files == want

        # the streaming ingest's frame (its default glob) is the same
        # reader: identical columns and types, the same files
        stream = consumption_csv(spark.readStream, src, "*.csv")
        assert stream.schema == df.schema
        assert "_block_start" in df.columns
        q = (
            stream.writeStream.format("memory")
            .queryName("csv_source_parity")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        streamed = spark.table("csv_source_parity")
        assert streamed.count() == 3
        assert {r["_source_file"].rsplit("/", 1)[-1] for r in streamed.collect()} == want
        spark.catalog.dropTempView("csv_source_parity")


class TestStreamingIngest:
    def _paths(self, tmp_path) -> IngestPaths:
        return IngestPaths(
            source_dir=str(tmp_path / "drops"),
            target_dir=str(tmp_path / "consumptions"),
            checkpoint_dir=str(tmp_path / "ckpt"),
            quarantine_dir=str(tmp_path / "quarantine"),
            log_dir=str(tmp_path / "ingest_log"),
        )

    def test_end_to_end_with_backfill_and_restart(self, spark, tmp_path):
        paths = self._paths(tmp_path)
        os.makedirs(paths.source_dir)

        # run 1: two dates with a gap (05-02 missing), mixed formats + junk
        write_csv(drop_dir(paths.source_dir, "2025_05_01"), "consumption_2025_05_01.csv",
                  ["01-May-25,CLI001,TechCorp,API,100", "2025-05-01,CLI001,TechCorp,API,150"])
        write_csv(drop_dir(paths.source_dir, "2025_05_03"), "consumption_2025_05_03.csv",
                  ["03-May-25,CLI002,Acme,API,300", "bad-date,CLI003,Bad,API,1"])
        run_ingest_available_now(spark, paths)

        tbl = {(str(r["date"]), r["client_id"]): r["total_consumed_tokens"]
               for r in spark.read.parquet(paths.target_dir).collect()}
        assert tbl == {("2025-05-01", "CLI001"): 150, ("2025-05-03", "CLI002"): 300}
        assert spark.read.parquet(paths.quarantine_dir).count() == 1

        # run 2: the gap date lands late (backfill, SURVEY §2.1 S5/S6) and an
        # update for an already-processed date arrives
        write_csv(drop_dir(paths.source_dir, "2025_05_02"), "consumption_2025_05_02.csv",
                  ["02-May-25,CLI001,TechCorp,API,200"])
        write_csv(drop_dir(paths.source_dir, "2025_05_01"), "consumption_2025_05_01_fix.csv",
                  ["01-May-25,CLI001,TechCorp Fixed,API,175"])
        run_ingest_available_now(spark, paths)

        rows = spark.read.parquet(paths.target_dir).collect()
        tbl = {(str(r["date"]), r["client_id"]): (r["client_name"], r["total_consumed_tokens"])
               for r in rows}
        assert tbl == {
            ("2025-05-01", "CLI001"): ("TechCorp Fixed", 175),
            ("2025-05-02", "CLI001"): ("TechCorp", 200),
            ("2025-05-03", "CLI002"): ("Acme", 300),
        }

        # run 3: nothing new → no-op (checkpoint skips all processed files)
        run_ingest_available_now(spark, paths)
        assert spark.read.parquet(paths.target_dir).count() == 3

        # ingestion log exists and counted batches
        log = spark.read.parquet(paths.log_dir)
        assert log.count() >= 2

    def test_quarantine_replay_overwrites_not_appends(self, spark, tmp_path):
        """An at-least-once REPLAY of a micro-batch must overwrite its own
        quarantine partition, never append a duplicate copy of the
        evidence (ADVICE r13: _batch_id was only a column, not an
        overwrite key)."""
        from data_ingestion_lambda_spark.streaming.ingest import _write_quarantine

        qdir = str(tmp_path / "quarantine")
        bad = spark.createDataFrame(
            [("not-a-date", "CLI009"), ("also-bad", "CLI010")],
            "date string, client_id string",
        )
        _write_quarantine(spark, qdir, bad, 7)
        assert spark.read.parquet(qdir).count() == 2
        _write_quarantine(spark, qdir, bad, 7)  # the replay
        q = spark.read.parquet(qdir)
        assert q.count() == 2
        assert {r["_batch_id"] for r in q.select("_batch_id").collect()} == {7}
        # a different batch's evidence lands alongside, untouched
        _write_quarantine(
            spark, qdir,
            spark.createDataFrame([("x", "CLI011")], "date string, client_id string"),
            8,
        )
        assert spark.read.parquet(qdir).count() == 3

    def test_clean_batch_quarantine_write(self, spark, tmp_path):
        """A batch without bad rows writes nothing, except that a replay
        deletes the partition an earlier attempt of that batch left."""
        from data_ingestion_lambda_spark.streaming.ingest import _write_quarantine

        qdir = str(tmp_path / "quarantine")
        _write_quarantine(spark, qdir, None, 3)
        assert not os.path.exists(qdir)
        bad = spark.createDataFrame([("not-a-date", "CLI009")], "date string, client_id string")
        _write_quarantine(spark, qdir, bad, 7)
        _write_quarantine(spark, qdir, bad, 8)
        _write_quarantine(spark, qdir, None, 7)
        assert sorted(os.listdir(qdir)) == ["_batch_id=8"]

    def test_one_pass_per_micro_batch(self, spark, tmp_path):
        """Each micro-batch scans its CSV once and runs at most 5 Spark
        jobs: one pass normalizes and persists the rows and observes the
        dates and counts, and the merge, the quarantine write and the log
        read that. A batch without bad rows writes no quarantine
        partition, and still logs its row. Fewer than 32 drop dirs, so
        no file listing runs as a Spark job."""
        import threading

        from pyspark.sql.streaming import StreamingQueryListener

        class Progress(StreamingQueryListener):
            def __init__(self):
                self.run_ids: list[str] = []
                self.input_rows: dict[str, int] = {}
                self.batches: dict[str, int] = {}
                self.done = threading.Condition()
                self.terminated: set[str] = set()

            def onQueryStarted(self, event):
                with self.done:
                    self.run_ids.append(str(event.runId))
                    self.done.notify_all()

            def onQueryProgress(self, event):
                p = event.progress
                run = str(p.runId)
                self.input_rows[run] = self.input_rows.get(run, 0) + p.numInputRows
                self.batches[run] = self.batches.get(run, 0) + (p.numInputRows > 0)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with self.done:
                    self.terminated.add(str(event.runId))
                    self.done.notify_all()

        paths = self._paths(tmp_path)
        waves = [
            {  # batch 0: one bad row among the good ones
                "2025_05_01": ["2025-05-01,CLI001,A,API,1", "2025-05-01,CLI002,B,API,2"],
                "2025_05_02": ["2025-05-02,CLI001,A,API,3", "bad-date,CLI003,C,API,4"],
            },
            {  # batch 1: clean
                "2025_05_03": ["2025-05-03,CLI001,A,API,5"],
                "2025_05_04": ["2025-05-04,CLI002,B,API,6", "2025-05-04,CLI003,C,API,7"],
            },
        ]
        listener = Progress()
        spark.streams.addListener(listener)
        try:
            for i, wave in enumerate(waves):
                for d, rows in wave.items():
                    write_csv(drop_dir(paths.source_dir, d), f"consumption_{d}.csv", rows)
                written = run_ingest_available_now(spark, paths)
                assert written == sorted(d.replace("_", "-") for d in wave)
                with listener.done:
                    assert listener.done.wait_for(lambda: len(listener.run_ids) > i, 30)
                    run = listener.run_ids[i]
                    assert listener.done.wait_for(lambda: run in listener.terminated, 30)
                landed = sum(len(rows) for rows in wave.values())
                assert listener.input_rows[run] == landed, "the CSV was scanned more than once"
                jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(run)
                assert listener.batches[run] == 1
                assert len(jobs) <= 5, f"{len(jobs)} Spark jobs for one micro-batch"
        finally:
            spark.streams.removeListener(listener)

        parts = [n for n in os.listdir(paths.quarantine_dir) if n.startswith("_batch_id=")]
        assert parts == ["_batch_id=0"]
        assert spark.read.parquet(paths.quarantine_dir).count() == 1
        log = sorted(
            (r.batch_id, r.rows_upserted, str(r.max_date))
            for r in spark.read.parquet(paths.log_dir).collect()
        )
        assert log == [(0, 3, "2025-05-02"), (1, 3, "2025-05-04")]

    def test_empty_header_only_file(self, spark, tmp_path):
        paths = self._paths(tmp_path)
        write_csv(drop_dir(paths.source_dir, "2025_05_01"), "consumption_2025_05_01.csv", [])
        run_ingest_available_now(spark, paths)
        # header-only file → empty batch → no target write at all, no crash
        assert not os.path.exists(paths.target_dir) or spark.read.parquet(paths.target_dir).count() == 0


class TestMergeSqlBuilders:
    def test_merge_and_on_conflict(self):
        from data_ingestion_lambda_spark.operators.jdbc_upsert import (
            CONSUMPTION_INSERT_COLS,
            CONSUMPTION_UPDATE_COLS,
            build_merge_sql,
            build_pg_on_conflict_sql,
        )

        m = build_merge_sql("consumptions", "staging", ["date", "client_id"],
                            CONSUMPTION_UPDATE_COLS, CONSUMPTION_INSERT_COLS)
        assert "MERGE INTO consumptions t USING staging s" in m
        assert "t.date = s.date AND t.client_id = s.client_id" in m
        assert "WHEN MATCHED THEN UPDATE SET client_name = s.client_name" in m
        assert "WHEN NOT MATCHED THEN INSERT" in m

        pg = build_pg_on_conflict_sql("consumptions", "staging", ["date", "client_id"],
                                      CONSUMPTION_UPDATE_COLS, CONSUMPTION_INSERT_COLS)
        assert "ON CONFLICT (date, client_id) DO UPDATE" in pg
        assert "client_name = EXCLUDED.client_name" in pg
