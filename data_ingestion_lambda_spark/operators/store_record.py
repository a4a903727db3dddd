"""The maintained-store record: what each of the 14 stores declares once.

Every store module exports ``STORE``, one ``StoreRecord``. Three things
are built from the records, as PySpark builds its function wrappers from
one name table through one factory: the CLI's one store handler
(``cli.py::_run_store``), the one stream runner
(``streaming/index_streams.py::run_store_available_now``) and the
erasure tables (``store_erasure.STORE_SPECS`` and ``UNLEARNABLE``). A
store whose rule really differs keeps a hook (``check``, ``prepare``,
``batch``, ``stream``, ``auto_fold``), not a fork of the handler.
"""

from __future__ import annotations

import datetime as _dt
import importlib
from collections.abc import Callable
from dataclasses import dataclass
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession

from data_ingestion_lambda_spark.operators.base_fold import auto_compact_epilogue

# CLI name -> store module under operators/, in ``cli.py --help`` order.
STORE_MODULES = {
    "dedup-gate": "dedup_gate",
    "vocab": "vocab",
    "ann-index": "ann_index",
    "search-index": "postings",
    "drift-monitor": "drift_monitor",
    "feature-store": "feature_store",
    "hh-store": "hh_store",
    "cms-store": "cms_store",
    "bloom-store": "bloom_store",
    "dsir-store": "dsir_store",
    "touch-store": "touch_store",
    "markov-store": "markov_store",
    "session-store": "session_store",
    "attribution-store": "attribution_store",
}


@dataclass(frozen=True)
class SubSpec:
    """One keyed sub-table of a store: where it lives relative to the
    store root ("" = the root itself), and the Hive partition levels
    UNDER the ledger key that a rewrite must preserve (the postings
    table's ``bucket``, the ANN index's ``cell``). ``key_cols`` overrides
    the store's key column for MATCHING: a row is the subject's if ANY of
    these columns holds a requested key (a pair table references the
    subject from either side); empty means the store key_col itself."""

    sub: str = ""
    inner_parts: tuple[str, ...] = ()
    key_cols: tuple[str, ...] = ()


@dataclass(frozen=True)
class StoreSpec:
    """How ``store_erasure.erase_store`` finds a subject's rows."""

    key_col: str
    subs: tuple[SubSpec, ...] = (SubSpec(),)
    # reserved base-partition values that may differ in schema from the
    # live partitions (day-preserving folds add a ``day`` data column),
    # so they are rewritten in their own pass with their own schema
    base_keys: tuple[str, ...] = ("0000-00-00", "0000-base")
    derived: str | None = None  # name of a post-rewrite recompute hook


@dataclass(frozen=True)
class Action:
    """A read-side CLI step: ``run(spark, dir, args)`` returns its report
    keys; it runs when the argument ``flag`` is set (always when None)."""

    flag: str | None
    run: Callable[..., dict]


@dataclass(frozen=True)
class StoreRecord:
    name: str  # the CLI subcommand
    apply: Callable[..., dict]  # apply(spark, dir, df, key, **opts)
    compact: Callable[[SparkSession, str, str], Any]  # the manual fold
    erase: StoreSpec | str  # erasable sub-tables, or why a sketch is not
    columns: tuple[str, ...] = ()  # the --batch columns; () keeps all
    events: bool = False  # batches carry an event ``ts`` to normalize
    stream_schema: str | None = None
    land: Callable[..., Any] | None = None  # the stream's, when not apply
    pre_stream: Callable[..., None] | None = None  # refusals before a stream
    count_dir: str = ""  # auto-compaction counts this sub-dir's partitions
    part_key: str | None = None
    base_key: str | None = None
    actions: tuple[Action, ...] = ()
    needs: tuple[str, ...] = ()  # the CLI needs one of these arguments
    paired: bool = True  # --batch and --date go together
    exclusive: bool = True  # --stream-source and --batch are exclusive
    dir_flag: str = "index"
    fold_flag: str = "compact_keep_from"
    fold_report: str | None = "compaction"  # None: merged into the report
    stream_report: str = "batches"
    opts: Callable[..., dict] = lambda args: {}  # apply/land keywords
    check: Callable[..., str | None] | None = None  # args -> a refusal
    prepare: Callable[..., bool] | None = None  # True: the report is done
    batch: Callable[..., dict] | None = None  # (spark, dir, args, **opts)
    stream: Callable[..., Any] | None = None
    auto_fold: Callable[..., dict | None] | None = None  # (spark, args, dir)

    def auto_compact(self, spark, index_dir, max_dirs, checkpoint_dir=None):
        """The ``--auto-compact-max-dirs`` step; None when not asked for."""
        return auto_compact_epilogue(
            spark,
            index_dir,
            max_dirs=max_dirs,
            compact_fn=lambda keep_from: self.compact(spark, index_dir, keep_from),
            checkpoint_dir=checkpoint_dir,
            count_dir=f"{index_dir}/{self.count_dir}" if self.count_dir else None,
            part_key=self.part_key,
            base_key=self.base_key,
        )


def store_record(name: str) -> StoreRecord:
    module = f"data_ingestion_lambda_spark.operators.{STORE_MODULES[name]}"
    return importlib.import_module(module).STORE


def read_batch(spark: SparkSession, path: str, store: StoreRecord) -> DataFrame:
    """The store's ``--batch`` with its columns. An event batch's ``ts`` is
    normalized as ``sources.catalog.load_table`` does, or the stores'
    unix_micros / day-boundary expressions fail on it."""
    from data_ingestion_lambda_spark.sources.catalog import normalize_event_ts

    if not store.events:
        df = spark.read.parquet(path)
    else:
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:
            pass
        df = normalize_event_ts(spark.read.parquet(path))
    return df.select(*store.columns) if store.columns else df


def report_rows(
    df: DataFrame, out_key: str, out_dir: str | None, **counts: Column | None
) -> dict:
    """A read action's report: ``df`` written to ``out_dir`` (overwrite)
    when one is given, then the rows of what was written under each count
    key (those matching the key's filter, when it has one)."""
    report = {}
    if out_dir is not None:
        df.write.mode("overwrite").parquet(out_dir)
        df, report[out_key] = df.sparkSession.read.parquet(out_dir), out_dir
    for key, cond in counts.items():
        report[key] = (df if cond is None else df.filter(cond)).count()
    return report


def iso_date_only(args) -> str | None:
    """A sketch store's CLI apply takes an ISO ``--date``; its ``b<id>``
    keys belong to the streaming front."""
    try:
        _dt.date.fromisoformat(args.date or "2000-01-01")
    except ValueError:
        return f"--date must be an ISO date, got {args.date!r}"
    return None


def batch_requires_date(args) -> str | None:
    return "--batch requires --date" if args.batch and args.date is None else None
