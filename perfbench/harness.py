"""Process-level plumbing shared by the workloads: the pinned environment,
the Spark session's start and full shutdown, peak memory, the outcome a
workload hands back, and the statistics every metric is reduced with."""

from __future__ import annotations

import os
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Fits a 4-core / 15 GiB box with room for the Python workers; the
# program's own default (48g) assumes a much larger host.
DRIVER_MEMORY = "4g"


@dataclass
class Outcome:
    """What one workload run measured.

    CPU time is what the end-to-end metrics are made of (see
    ``cpu_seconds``). ``invocations`` are the timed invocations; ``layers``
    holds the per-layer metrics of a traced run."""

    setup_s: float
    rows_per_cpu_s: float
    write_amplification: float
    invocations: list
    attempted: int
    failed: int
    problems: list[str] = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=dict)


@dataclass
class SessionStart:
    wall_s: float
    cpu_s: float


def pin_env(workdir: str) -> dict[str, str]:
    """Pin everything the session reads from the environment, and route
    every scratch write (Spark local dirs, JVM and Python temp files) into
    ``workdir``. Must run before pyspark launches the JVM. Returns the
    pinned values for the run record."""
    tmp = os.path.join(workdir, "tmp")
    local = os.path.join(workdir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    pinned = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        # Python workers import the package by name; this process
        # gets it through sys.path below.
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
    }
    os.environ.update(pinned)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return pinned


def start_session(workdir: str) -> tuple[object, SessionStart]:
    """The program's session factory, with its warehouse kept in
    ``workdir``. Returns the session and the wall and CPU time its start
    took (the JVM's CPU time from its launch)."""
    from data_ingestion_lambda_spark import get_spark

    c0 = cpu_seconds()
    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench",
        extra_conf={"spark.sql.warehouse.dir": os.path.join(workdir, "warehouse")},
    )
    return spark, SessionStart(time.perf_counter() - t0, cpu_seconds() - c0)


def _jvm_proc():
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return getattr(gw, "proc", None) if gw is not None else None


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def peak_rss_mb() -> float:
    """Peak resident set (VmHWM) of the Spark JVM plus this process."""
    kb = _vm_hwm_kb("self")
    proc = _jvm_proc()
    if proc is not None:
        kb += _vm_hwm_kb(proc.pid)
    return kb / 1024.0


def _tree_cpu_ticks(pid: int) -> int:
    """utime + stime (and those of reaped children) of ``pid`` and every
    live descendant, in clock ticks."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat", encoding="ascii") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue  # ended while walking
            children.setdefault(int(fields[1]), []).append(int(entry))
    ticks, todo = 0, [pid]
    while todo:
        p = todo.pop()
        try:
            with open(f"/proc/{p}/stat", encoding="ascii") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])
        todo.extend(children.get(p, ()))
    return ticks


def cpu_seconds() -> float:
    """CPU time used so far by this process, the Spark JVM and the JVM's
    Python workers. Unlike wall time it leaves out time the host's other
    tenants take (steal), so it stays steady on a shared machine."""
    t = os.times()
    secs = t.user + t.system
    proc = _jvm_proc()
    if proc is not None:
        secs += _tree_cpu_ticks(proc.pid) / os.sysconf("SC_CLK_TCK")
    return secs


def stop_session(spark) -> None:
    """Stop Spark and end the JVM it runs in, waiting until it is gone."""
    from pyspark import SparkContext

    proc = _jvm_proc()
    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        # The gateway JVM exits when its stdin closes.
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def p50(xs) -> float:
    return statistics.median(xs) if xs else 0.0
