"""The plans layer, probed in traced runs: 14 registered lanes.

The lanes run over tables generated in the run's directory
(``tables.py``). One pass executes every lane once, one after another,
in an order the run's seed permutes: it builds the lane's plan
(``spec.builder``), collects the result and compares its ``table_hash``
with the DuckDB-oracle hash recorded in ``oracle_hashes.json``.
``release_pinned()`` runs after every lane so each execution does its full
work. The pass is the lanes' first in the process, so its times include
their cold start (JIT, Python workers), as a scheduled run would see.
"""

from __future__ import annotations

import json
import os
import random
import time

from data_ingestion_lambda_spark.plans import all_specs
from data_ingestion_lambda_spark.plans.registry import release_pinned
from tools.check_oracle import table_hash

import tracing
from harness import HERE
from tables import write_tables

SQL_LANES = (
    "q01_pricing_summary",
    "q05_local_supplier_volume",
    "join_broadcast_dims",
    "q09_product_profit",
    "q18_large_volume_customer",
    "win_topk_per_group",
    "events_sessionize",
    "upsert_last_writer_wins",
)
CURATION_LANES = (
    "dedup_minhash_lsh",
    "dedup_simhash",
    "text_fingerprint",
    "ann_ivf_topk",
    "search_bm25_topk",
    "media_decode_resize",
)
LANES = SQL_LANES + CURATION_LANES
ORACLE_FILE = os.path.join(HERE, "oracle_hashes.json")


def lane_module(spec) -> str:
    return spec.builder.__module__.rsplit(".", 1)[-1]


def lane_order(seed: int) -> list[str]:
    order = list(LANES)
    random.Random(seed).shuffle(order)
    return order


class QueryBench:
    """The lanes under test, over tables generated in ``workdir``."""

    def __init__(self, spark, workdir: str, seed: int):
        self.spark = spark
        self.seed = seed
        self.sf_dir = os.path.join(workdir, "tables")
        self.table_rows = write_tables(self.sf_dir)
        self.specs = {name: all_specs()[name] for name in LANES}
        self.executions = 0
        self.problems: list[str] = []

    def checked_pass(self, spans: tracing.Spans, corrupt_expected: bool = False) -> dict[str, float]:
        """Each lane once, in seeded order: its build and its collect as
        spans under a ``plans.lane`` span, its Spark jobs counted under its
        own job group, and its result hash compared with the recorded
        oracle hash. Returns the per-layer metrics."""
        with open(ORACLE_FILE, encoding="utf-8") as f:
            expected = json.load(f)["hashes"]
        if corrupt_expected:
            expected = {k: "0" * 16 for k in expected}
        sc = self.spark.sparkContext
        out: dict[str, float] = {}
        for lane in lane_order(self.seed):
            spec = self.specs[lane]
            module = lane_module(spec)
            group = f"perfbench-{lane}"
            sc.setJobGroup(group, lane)
            t0 = time.perf_counter()
            try:
                with spans.span("plans.lane", lane=lane, module=module):
                    with spans.span(f"plans.{module}.build") as build:
                        df = spec.builder(self.spark, self.sf_dir)
                    with spans.span(f"plans.{module}.exec") as execute:
                        rows = [tuple(r) for r in df.collect()]
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            out[f"plans.lane.{lane}.p50_s"] = time.perf_counter() - t0
            out[f"plans.lane.{lane}.jobs"] = tracing.jobs_in_group(self.spark, group)
            release_pinned()
            self.executions += 1
            for phase, span in (("build", build), ("exec", execute)):
                key = f"plans.{module}.{phase}_s"
                out[key] = out.get(key, 0.0) + span["end"] - span["start"]
            got = table_hash(rows, df.columns)
            if got != expected[lane]:
                self.problems.append(f"{lane}: result hash {got}, oracle {expected[lane]}")
        out["plans.sql_total_s"] = sum(out[f"plans.lane.{k}.p50_s"] for k in SQL_LANES)
        out["plans.curation_total_s"] = sum(out[f"plans.lane.{k}.p50_s"] for k in CURATION_LANES)
        return out


def query_probe(spark, workdir, seed, spans, corrupt_expected=False):
    """The plans layer: one checked, traced pass. Returns (per-layer
    metrics, operations attempted, problems)."""
    bench = QueryBench(spark, workdir, seed)
    layers = bench.checked_pass(spans, corrupt_expected)
    return layers, bench.executions, bench.problems
