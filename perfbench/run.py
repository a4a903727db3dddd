#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload ingest_fresh --seed 1 --seconds 12 --trace 0

Workloads: ``ingest_fresh`` and ``ingest_restate`` (see
``perfbench/README.md``). ``--trace 0`` reports the end-to-end metrics.
``--trace 1`` instruments the run, adds a checked and traced pass over 14
registered query lanes (``query_probe.py``), reports the per-layer
metrics instead, and writes every span to ``.perfbench-work/traces/``.

Every scratch write (drop files, tables, checkpoints, Spark local dirs,
temp files) goes to a fresh directory under ``.perfbench-work/`` that is
removed when the run ends. The last line of standard output is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. A run whose
checks find a wrong result prints ``"correct": false`` and exits 1.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from harness import ROOT, peak_rss_mb, pin_env, start_session, stop_session  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench-work")
END_TO_END_UNITS = {
    "setup_s": "s",
    "rows_per_cpu_s": "1/s",
    "write_amplification": "ratio",
}
# What the run needs from the checkout besides the benchmark itself.
REQUIRED = ("data_ingestion_lambda_spark/__init__.py", "tools/check_oracle.py")


def per_layer_units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("ingest_fresh", "ingest_restate"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True, help="timed operation seconds to spend")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--corrupt-expected",
        action="store_true",
        help="perturb the expected results, to show the checks fail",
    )
    args = ap.parse_args()

    missing = [p for p in REQUIRED if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: the program is not in {ROOT}: missing {missing}", file=sys.stderr)
        return 2

    os.makedirs(WORK, exist_ok=True)
    workdir = tempfile.mkdtemp(prefix="run-", dir=WORK)
    cwd = os.getcwd()
    spark = None
    try:
        env = pin_env(workdir)
        # Anything Spark writes relative to the working directory lands in
        # the run's directory too.
        os.chdir(workdir)
        import tracing
        from ingest_workloads import run_fresh, run_restate

        spark, session = start_session(workdir)
        spans = tracing.Spans() if args.trace else None
        run = {"ingest_fresh": run_fresh, "ingest_restate": run_restate}[args.workload]
        outcome = run(spark, session, workdir, args.seed, args.seconds, spans, args.corrupt_expected)
        attempted, failed, problems = outcome.attempted, outcome.failed, list(outcome.problems)
        if args.trace:
            from query_probe import query_probe

            layers, ops, extra = query_probe(spark, workdir, args.seed, spans, args.corrupt_expected)
            layers.update(outcome.layers)
            layers["session.start_s"] = session.wall_s
            layers["session.peak_rss_mb"] = peak_rss_mb()
            attempted += ops
            failed += min(ops, len(extra))
            problems += extra
    finally:
        if spark is not None:
            stop_session(spark)
        os.chdir(cwd)
        shutil.rmtree(workdir, ignore_errors=True)

    if args.trace:
        units = per_layer_units()
        absent = sorted(set(units) - set(layers))
        if absent:
            raise RuntimeError(f"traced run did not measure {absent}")
        metrics = {k: {"value": layers[k], "unit": units[k]} for k in units}
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        trace_path = os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json")
        with open(trace_path, "w", encoding="utf-8") as f:
            json.dump(
                {
                    "workload": args.workload,
                    "seed": args.seed,
                    "env": env,
                    "metrics": layers,
                    "problems": problems,
                    "spans": spans.records,
                },
                f,
                default=str,
            )
        print(f"trace: {os.path.relpath(trace_path, cwd)}")
    else:
        metrics = {k: {"value": getattr(outcome, k), "unit": u} for k, u in END_TO_END_UNITS.items()}

    for k, v in env.items():
        print(f"env {k}={v}")
    for problem in problems:
        print(f"FAILED CHECK: {problem}")
    print(f"fail_frac {failed / attempted:.6g} ({failed} of {attempted} operations)")
    for what in ("wall_s", "cpu_s"):
        times = " ".join(f"{getattr(inv, what):.3f}" for inv in outcome.invocations)
        print(f"timed invocations, {what}: {times}")
    for k, m in metrics.items():
        print(f"{k} {m['value']:.6g} {m['unit']}")
    correct = failed == 0
    print(
        json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics})
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
