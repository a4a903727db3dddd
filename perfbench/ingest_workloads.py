"""The scheduled-ingest workloads, ``ingest_fresh`` and ``ingest_restate``.

Closed loop, one client: a wave of drop files lands, one
``run_ingest_available_now`` call (a scheduled invocation) drains it, and
the next wave lands only after that call returns. Generator time is never
measured; each invocation is, in wall time and in CPU time.
"""

from __future__ import annotations

import datetime as dt
import os
import statistics
import time
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

from data_ingestion_lambda_spark.functions.normalize import normalize_consumption
from data_ingestion_lambda_spark.sources.csv_source import read_consumption_csv
from data_ingestion_lambda_spark.streaming.ingest import IngestPaths, run_ingest_available_now

import tracing
from gen import DropGenerator, Wave
from harness import Outcome, cpu_seconds, p50

# ingest_fresh: every wave is dates the table has never seen.
# (dates, files per date, rows per file)
FRESH_WAVE = (10, 2, 1000)
# ingest_restate: a base table, then waves of corrections over all of it
# plus one late-backfill date, applied a few files per micro-batch.
RESTATE_BASE_DATES = 15
RESTATE_BASE_ROWS = 1000
RESTATE_FIX_ROWS = 250
RESTATE_MAX_FILES = 8
# Wall seconds of one warm invocation on an unloaded 4-core box: the
# timed phase runs as many invocations as fit in ``--seconds`` at this
# pace. A fixed count, rather than a wall-clock deadline, keeps a slow
# (shared, loaded) host from running fewer, earlier, less-warm
# invocations than a fast one.
FRESH_NOMINAL_S = 3.5
RESTATE_NOMINAL_S = 4.0


@dataclass
class Invocation:
    wall_s: float
    cpu_s: float
    rows: int
    bytes_landed: int
    bytes_written: int
    partitions_rewritten: int


TARGET_COLS = (
    "date",
    "client_id",
    "client_name",
    "service_name",
    "total_consumed_tokens",
    "is_active",
)


def noop_seconds(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


class IngestBench:
    """One ingest pipeline under test: its directories, its generator and
    the problems its invocations showed."""

    def __init__(self, spark, workdir: str, seed: int):
        self.spark = spark
        self.root = os.path.join(workdir, "ingest")
        self.paths = IngestPaths(
            source_dir=f"{self.root}/source",
            target_dir=f"{self.root}/target",
            checkpoint_dir=f"{self.root}/checkpoint",
            quarantine_dir=f"{self.root}/quarantine",
        )
        self.gen = DropGenerator(seed, self.paths.source_dir)
        self.first_day = dt.date(2020, 1, 1) + dt.timedelta(days=self.gen.rng.randrange(365))
        self._days_used = 0
        self.max_files: int | None = None
        self.invocations = 0
        self.wrong_invocations = 0
        self.problems: list[str] = []

    def new_dates(self, n: int) -> list[dt.date]:
        start = self._days_used
        self._days_used += n
        return [self.first_day + dt.timedelta(days=start + i) for i in range(n)]

    def invoke(self, wave: Wave) -> Invocation:
        """One scheduled invocation. It must report exactly the dates the
        wave landed. The target is walked before and after, untimed, for
        what the invocation wrote."""
        before = tracing.snapshot(self.paths.target_dir)
        c0 = cpu_seconds()
        t0 = time.perf_counter()
        written = run_ingest_available_now(
            self.spark, self.paths, max_files_per_trigger=self.max_files
        )
        wall_s = time.perf_counter() - t0
        cpu_s = cpu_seconds() - c0
        self.invocations += 1
        landed = sorted(d.isoformat() for d in wave.dates)
        if written != landed:
            self.wrong_invocations += 1
            self.problems.append(f"invocation wrote {written}, wave landed {landed}")
        nbytes, parts = tracing.written_since(before, tracing.snapshot(self.paths.target_dir))
        return Invocation(wall_s, cpu_s, wave.rows, wave.bytes, nbytes, parts)

    def check(self, corrupt_expected: bool = False) -> None:
        """The untimed end-of-run checks; each miss is added to
        ``problems``."""
        spark, p = self.spark, self.paths
        before = tracing.snapshot(p.target_dir)
        if run_ingest_available_now(spark, p, max_files_per_trigger=self.max_files):
            self.problems.append("an invocation with no new files reported writes")
        self.invocations += 1
        if tracing.snapshot(p.target_dir) != before:
            self.problems.append("an invocation with no new files rewrote the target")

        rows = self.gen.expected_rows()
        if corrupt_expected:
            d, cid, name, service, tokens, active = rows[0]
            rows[0] = (d, cid, name, service, tokens + 1, active)
        cols = list(zip(*rows))
        expected_path = os.path.join(self.root, "expected.parquet")
        pq.write_table(
            pa.table(
                {
                    "date": pa.array(cols[0], pa.date32()),
                    "client_id": pa.array(cols[1], pa.string()),
                    "client_name": pa.array(cols[2], pa.string()),
                    "service_name": pa.array(cols[3], pa.string()),
                    "total_consumed_tokens": pa.array(cols[4], pa.int64()),
                    "is_active": pa.array(cols[5], pa.bool_()),
                }
            ),
            expected_path,
        )
        want = spark.read.parquet(expected_path)
        got = spark.read.parquet(p.target_dir).select(*TARGET_COLS)
        missing, extra = want.exceptAll(got).count(), got.exceptAll(want).count()
        if missing or extra:
            self.problems.append(f"target differs from expected: {missing} missing, {extra} extra rows")

        quarantined = spark.read.parquet(p.quarantine_dir).count()
        if quarantined != self.gen.bad_rows:
            self.problems.append(f"quarantine holds {quarantined} rows, {self.gen.bad_rows} planted")

        for table in (p.target_dir, p.quarantine_dir):
            leftovers = [d for d in os.listdir(table) if d.startswith(".staging-")]
            if leftovers:
                self.problems.append(f"staging dirs left in {table}: {leftovers}")

    def outcome(self, setup_s: float, timed: list[Invocation], tracer) -> Outcome:
        return Outcome(
            setup_s=setup_s,
            rows_per_cpu_s=sum(inv.rows for inv in timed) / sum(inv.cpu_s for inv in timed),
            write_amplification=sum(inv.bytes_written for inv in timed)
            / sum(inv.bytes_landed for inv in timed),
            invocations=timed,
            attempted=self.invocations,
            failed=min(self.invocations, self.wrong_invocations + len(self.problems)),
            problems=self.problems,
            layers=tracer.metrics(self) if tracer else {},
        )


class IngestTracer:
    """Traced invocations: listener progress, job counts, wrapper spans,
    and the scan/normalize probes on each wave."""

    def __init__(self, spark, spans: tracing.Spans):
        self.spark = spark
        self.spans = spans
        self.listener = tracing.StreamListener()
        self.records: list[dict] = []
        self.untraced: list[Invocation] = []

    def invoke(self, bench: IngestBench, wave: Wave) -> Invocation:
        spark, spans = self.spark, self.spans
        n_started = len(self.listener.started)
        spark.streams.addListener(self.listener)
        try:
            with spans.span("streaming.ingest.invocation", rows=wave.rows) as span:
                spans.root = span["id"]
                with tracing.wrappers_installed(spans):
                    inv = bench.invoke(wave)
            run_id = self.listener.wait_started(n_started)
            self.listener.wait_terminated(run_id)
        finally:
            spark.streams.removeListener(self.listener)
            spans.root = None
        progress = self.listener.progress.get(run_id, [])
        for ev in progress:
            start = dt.datetime.fromisoformat(ev["timestamp"].replace("Z", "+00:00")).timestamp()
            spans.add(
                "streaming.ingest.trigger",
                start,
                start + ev["duration_ms"].get("triggerExecution", 0) / 1000.0,
                span["id"],
                batch_id=ev["batch_id"],
                num_input_rows=ev["num_input_rows"],
                duration_ms=ev["duration_ms"],
            )
        scan = noop_seconds(read_consumption_csv(spark, wave.files))
        normalized = noop_seconds(normalize_consumption(read_consumption_csv(spark, wave.files))[0])
        self.records.append(
            {
                "invocation": inv,
                "progress": progress,
                "jobs": tracing.jobs_in_group(spark, run_id),
                "scan_s": scan,
                "normalize_self_s": normalized - scan,
            }
        )
        return inv

    def metrics(self, bench: IngestBench) -> dict[str, float]:
        recs = self.records
        invs = [r["invocation"] for r in recs]
        # An availableNow query may also report a trigger that found no
        # data; only the triggers that ran a micro-batch count.
        per_inv = [[ev for ev in r["progress"] if ev["num_input_rows"]] for r in recs]
        batches = [ev for evs in per_inv for ev in evs]

        def dur(ev, *keys):
            return sum(ev["duration_ms"].get(k, 0) for k in keys)

        traced_cpu = statistics.mean(inv.cpu_s for inv in invs)
        untraced_cpu = statistics.mean(inv.cpu_s for inv in self.untraced)
        return {
            "sources.list_ms.p50": p50([dur(ev, "latestOffset") for ev in batches]),
            "sources.scan_rows_per_input_row": sum(ev["num_input_rows"] for ev in batches)
            / sum(inv.rows for inv in invs),
            "sources.csv_scan_s": p50([r["scan_s"] for r in recs]),
            "functions.normalize_s": p50([r["normalize_self_s"] for r in recs]),
            "functions.quarantine_rows": self.spark.read.parquet(bench.paths.quarantine_dir).count(),
            "streaming.ingest.invocation_wall_p50_s": p50([inv.wall_s for inv in self.untraced]),
            "streaming.ingest.invocation_cpu_p50_s": p50([inv.cpu_s for inv in self.untraced]),
            "streaming.ingest.batches": p50([len(evs) for evs in per_inv]),
            "streaming.ingest.trigger_ms.p50": p50([dur(ev, "triggerExecution") for ev in batches]),
            "streaming.ingest.add_batch_ms.p50": p50([dur(ev, "addBatch") for ev in batches]),
            "streaming.ingest.checkpoint_ms.p50": p50(
                [dur(ev, "walCommit", "commitOffsets") for ev in batches]
            ),
            "streaming.ingest.jobs_per_batch": sum(r["jobs"] for r in recs) / len(batches),
            "operators.upsert.call_s": p50(self.spans.durations("operators.upsert.call")),
            "operators.upsert.replace_partitions_s": p50(
                self.spans.durations("operators.upsert.replace_partitions")
            ),
            "operators.upsert.quarantine_write_s": p50(
                self.spans.durations("operators.upsert.quarantine_write")
            ),
            "operators.upsert.partitions_rewritten": p50(
                [inv.partitions_rewritten for inv in invs]
            ),
            "operators.upsert.bytes_written_per_input_byte": sum(inv.bytes_written for inv in invs)
            / sum(inv.bytes_landed for inv in invs),
            "trace.overhead_frac": traced_cpu / untraced_cpu - 1.0,
        }


def timed_invocations(
    bench: IngestBench, land, count: int, tracer: IngestTracer | None
) -> list[Invocation]:
    """Land a wave, invoke, ``count`` times. Traced runs trace in ABBA
    order (traced, untraced, untraced, traced, ...), so a trend over the
    run, such as code still warming, cancels out of traced minus
    untraced."""
    timed = []
    for i in range(count):
        wave = land()
        if tracer and i % 4 in (0, 3):
            timed.append(tracer.invoke(bench, wave))
        else:
            timed.append(bench.invoke(wave))
            if tracer:
                tracer.untraced.append(timed[-1])
    return timed


def invocation_count(seconds: float, nominal_s: float, traced: bool) -> int:
    # Traced runs need one ABBA round at least.
    return max(4 if traced else 2, round(seconds / nominal_s))


def run_fresh(spark, session, workdir, seed, seconds, spans, corrupt_expected) -> Outcome:
    bench = IngestBench(spark, workdir, seed)

    def land(n, files, rows):
        return bench.gen.land_new_dates(bench.new_dates(n), files, rows)

    # Set-up: two waves, untimed; the first runs on cold code.
    setup = [bench.invoke(land(*FRESH_WAVE)) for _ in range(2)]
    tracer = IngestTracer(spark, spans) if spans else None
    count = invocation_count(seconds, FRESH_NOMINAL_S, tracer is not None)
    timed = timed_invocations(bench, lambda: land(*FRESH_WAVE), count, tracer)
    bench.check(corrupt_expected)
    return bench.outcome(session.cpu_s + sum(inv.cpu_s for inv in setup), timed, tracer)


def run_restate(spark, session, workdir, seed, seconds, spans, corrupt_expected) -> Outcome:
    bench = IngestBench(spark, workdir, seed)
    base = bench.new_dates(RESTATE_BASE_DATES)
    backfills = iter(range(1, 10**6))

    def land():
        late = bench.first_day - dt.timedelta(days=next(backfills))
        return bench.gen.land_corrections(base, RESTATE_FIX_ROWS, backfill=late)

    # Set-up: the base table loaded through the program in one
    # invocation, on cold code, then two correction waves, untimed (the
    # merge path's CPU per invocation still falls over the first two).
    setup = [bench.invoke(bench.gen.land_new_dates(base, 1, RESTATE_BASE_ROWS))]
    bench.max_files = RESTATE_MAX_FILES
    setup += [bench.invoke(land()) for _ in range(2)]
    tracer = IngestTracer(spark, spans) if spans else None
    count = invocation_count(seconds, RESTATE_NOMINAL_S, tracer is not None)
    timed = timed_invocations(bench, land, count, tracer)
    bench.check(corrupt_expected)
    return bench.outcome(session.cpu_s + sum(inv.cpu_s for inv in setup), timed, tracer)
