"""The traced run's instruments, all attached from outside the program:

- ``Spans``: an in-memory span log (name, start, end, parent), written out
  when the run ends;
- ``StreamListener``: a ``StreamingQueryListener`` keeping every query's
  progress events (per-trigger durations, input rows);
- ``wrappers_installed``: timing wrappers swapped over module-level names
  the ingest path looks up at call time, removed after each traced
  invocation (the query lanes time ``spec.builder`` with spans directly);
- ``jobs_in_group``: exact Spark job counts from ``statusTracker``;
- ``snapshot``/``written_since``: a file walk of a table directory, for
  write amplification and partitions rewritten.
"""

from __future__ import annotations

import functools
import os
import threading
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener


class Spans:
    """Spans of one run. A span opened on a thread with no open span is
    parented to ``root`` (the operation span), which is how work done on
    the streaming callback thread hangs under its invocation."""

    def __init__(self):
        self.records: list[dict] = []
        self.root: int | None = None
        self._local = threading.local()
        self._lock = threading.Lock()

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> int:
        with self._lock:
            sid = len(self.records)
            self.records.append(
                {"id": sid, "name": name, "start": start, "end": end, "parent": parent, **attrs}
            )
        return sid

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else self.root
        sid = self.add(name, time.time(), 0.0, parent, **attrs)
        stack.append(sid)
        try:
            yield self.records[sid]
        finally:
            stack.pop()
            self.records[sid]["end"] = time.time()

    def durations(self, name: str) -> list[float]:
        return [r["end"] - r["start"] for r in self.records if r["name"] == name]


class StreamListener(StreamingQueryListener):
    """Collects each streaming query's run id and progress events."""

    def __init__(self):
        self.started: list[str] = []
        self.progress: dict[str, list] = {}
        self.terminated: set[str] = set()
        self._cv = threading.Condition()

    def onQueryStarted(self, event):
        with self._cv:
            self.started.append(str(event.runId))

    def onQueryProgress(self, event):
        p = event.progress
        with self._cv:
            self.progress.setdefault(str(p.runId), []).append(
                {
                    "batch_id": p.batchId,
                    "timestamp": p.timestamp,
                    "num_input_rows": p.numInputRows,
                    "duration_ms": dict(p.durationMs),
                }
            )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self._cv:
            self.terminated.add(str(event.runId))
            self._cv.notify_all()

    def _wait(self, ready, what: str, timeout: float = 30.0) -> None:
        # Events arrive asynchronously, on the listener bus's thread.
        with self._cv:
            if not self._cv.wait_for(ready, timeout):
                raise TimeoutError(f"no {what} event from the streaming listener")

    def wait_started(self, n_before: int) -> str:
        """Run id of the first query started after ``n_before`` starts."""
        self._wait(lambda: len(self.started) > n_before, "start")
        return self.started[n_before]

    def wait_terminated(self, run_id: str) -> None:
        self._wait(lambda: run_id in self.terminated, "termination")


# (module, attribute, span name): names the ingest path resolves at call
# time, so a wrapper set on the module is the one that runs.
WRAPPED = (
    ("data_ingestion_lambda_spark.streaming.ingest", "upsert_into_parquet", "operators.upsert.call"),
    ("data_ingestion_lambda_spark.operators.upsert", "replace_partitions", "operators.upsert.replace_partitions"),
    ("data_ingestion_lambda_spark.streaming.ingest", "replace_partitions", "operators.upsert.quarantine_write"),
    ("data_ingestion_lambda_spark.streaming.ingest", "normalize_consumption", "functions.normalize.plan"),
)


@contextmanager
def wrappers_installed(spans: Spans):
    """The ``WRAPPED`` timing wrappers, for the length of a ``with`` block."""
    import importlib

    def timed(fn, name):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with spans.span(name):
                return fn(*args, **kwargs)

        return wrapper

    saved = []
    try:
        for mod_name, attr, span_name in WRAPPED:
            mod = importlib.import_module(mod_name)
            fn = getattr(mod, attr)
            saved.append((mod, attr, fn))
            setattr(mod, attr, timed(fn, span_name))
        yield
    finally:
        for mod, attr, fn in reversed(saved):
            setattr(mod, attr, fn)


def jobs_in_group(spark, group: str) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def snapshot(table_dir: str) -> dict[str, tuple[int, int]]:
    """{relative path: (size, mtime_ns)} of the table's data files."""
    out = {}
    for dirpath, dirnames, filenames in os.walk(table_dir):
        dirnames[:] = [d for d in dirnames if not d.startswith(".")]
        for f in filenames:
            if f.endswith(".parquet"):
                p = os.path.join(dirpath, f)
                st = os.stat(p)
                out[os.path.relpath(p, table_dir)] = (st.st_size, st.st_mtime_ns)
    return out


def written_since(before: dict, after: dict) -> tuple[int, int]:
    """(bytes written, partitions rewritten) between two snapshots: a file
    counts when it is new or changed; a partition counts when any of its
    files was written or removed."""
    changed = [p for p, v in after.items() if before.get(p) != v]
    removed = [p for p in before if p not in after]
    parts = {p.split(os.sep, 1)[0] for p in changed + removed}
    return sum(after[p][0] for p in changed), len(parts)
