"""Crash-guarded base-fold compaction, shared by every date/batch-keyed
maintained store.

Maintained stores land one partition dir per batch (``date=<d>`` from
the CLI path, ``ingest_batch=b<id>`` from a streaming front). Reads are
flat in ledger ROWS, but object-store LIST cost and Spark's file-index
build grow with partition COUNT — the axis the r9/r10 economics probes
measured (SCALE.md: postings 708 dirs → 72 cut the 8-query search wall
7.30 s → 2.10 s). ``base_fold`` collapses every partition strictly
below a caller-chosen horizon into one reserved base partition, with
the feature store's ledger discipline (operators/feature_store.py:
365-426) so a crash at ANY point never double-counts a batch:

1. the ``_horizon=<key>`` marker advances FIRST (MAX rule across
   coexisting markers — a too-high horizon after a crash only refuses
   lands it could have accepted, never double-counts one);
2. each sub-table swaps its full merged base in through
   ``layout.replace_partitions``: the base is staged as
   ``<part_key>=<base_key>``, and the folded partitions that stage
   nothing are deleted;
3. a crash inside that swap is finished by the next writer of the
   sub-table: this fold runs ``layout.finish_swaps`` before it lists or
   reads, so it never recompacts a partially-dropped table (a legacy
   ``.compact-staging`` still refuses, ``refuse_stranded_fold``);
4. partition dirs holding no parquet footer (a batch with zero rows
   for one sub-table) are dropped without being read — schema
   inference over an all-empty fold set fails (review r9/r10: the
   guard existed only in the attribution copy; sharing the body
   carries it to every store).

The fold must be EXACT by construction on the caller's side: rows
disjoint across batches (concatenation) or additive scalars (sum) —
each caller's ``merge`` callback states which and the caller's
equality pin proves it.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestion_lambda_spark.operators.layout import (
    committed_front,
    dir_has_parquet,
    finish_swaps,
    hadoop_fs,
    ledger_keying,
    partition_values,
    read_partitions,
    refuse_stranded_fold,
    replace_partitions,
)

# Reserved base-partition key, shared by every folded store. Sorts
# strictly below both ledger keying schemes (ISO dates and the
# streaming fronts' zero-padded ``b<id>`` keys — "0" < "b"), so the
# fold-set compare and the land-refusal compare both treat the base as
# "older than everything".
BASE_KEY = "0000-00-00"


def fold_horizon(spark: SparkSession, index_dir: str) -> str | None:
    """MAX over ``_horizon=`` markers at the store root (the feature
    store's rule: the crash window where old+new markers coexist, and
    a re-run with an earlier keep_from, both resolve to the later)."""
    return max(partition_values(spark, index_dir, "_horizon"), default=None)


def check_not_below_horizon(
    spark: SparkSession, index_dir: str, batch_key: str, op_name: str
) -> None:
    """Land-refusal shared by every folded store's apply path: a batch
    key STRICTLY BELOW the compaction horizon is SPENT — its original
    partition was folded into the base, so a re-delivery would
    double-count instead of overwriting itself (the postings store's
    rule, operators/postings.py::update_postings). The reserved base
    key itself refuses unconditionally — landing a batch there would
    clobber the folded base (most date-keyed applies already reject it
    via ISO validation, but vocab and the raw streaming lands take
    arbitrary keys)."""
    if batch_key <= BASE_KEY:
        raise ValueError(
            f"{op_name}: batch key {batch_key!r} is reserved for (or sorts "
            f"below) the compaction base partition {BASE_KEY!r}"
        )
    horizon = fold_horizon(spark, index_dir)
    if horizon is not None and batch_key < horizon:
        raise ValueError(
            f"{op_name}: batch key {batch_key} is below the compaction "
            f"horizon {horizon} — that key was folded into the base "
            "partition and its replay key is spent; re-deliver under a "
            "current key or rebuild the store"
        )


def streaming_committed_front_key(
    spark: SparkSession, checkpoint_dir: str
) -> str | None:
    """The highest SAFE ``keep_from`` for a ``b<id>``-keyed store fed by
    the stream checkpointed at ``checkpoint_dir``: one past the commits
    log's front, formatted in the store's zero-padded key scheme. Batch
    ids at or below the front are committed — the engine never replays
    them — so folding keys strictly below ``b<front+1>`` can never spend
    a key a replay still needs (ADVICE r11: a landed-but-uncommitted
    batch folded early double-counts on replay, and the b-keyed stores'
    ``check_not_below_horizon`` refusal would otherwise wedge the stream
    permanently). None when the checkpoint has no commits yet."""
    front = committed_front(spark, checkpoint_dir)
    return None if front is None else f"b{front + 1:09d}"


def auto_keep_from(
    spark: SparkSession,
    ledger_dir: str,
    *,
    max_dirs: int,
    part_key: str | None = None,
    base_key: str = BASE_KEY,
    keep_recent: int | None = None,
    cap: str | None = None,
) -> str | None:
    """Dir-count-threshold compaction policy (VERDICT r11 #2): every
    store HAS a fold; this decides WHEN, so a long-running ingest loop
    holds a bounded partition count without a human picking keep_from.

    When the live ledger partitions under ``ledger_dir`` (base partition
    excluded) exceed ``max_dirs``, returns the keep_from that folds all
    but the newest ``keep_recent`` (default ``max(1, max_dirs // 2)`` —
    folding down to HALF the threshold, not to the threshold itself, so
    the fold fires once per ~max_dirs/2 applies instead of on every
    apply after the first crossing). Returns None when no fold is due.

    ``cap`` bounds the returned key (for b-keyed streamed stores pass
    ``streaming_committed_front_key`` so an uncommitted land is never
    folded); ``part_key`` defaults to the store's ``ledger_keying``;
    ``base_key`` matters only for stores with a non-default reserved
    base (the attribution ledger's ``0000-base``).
    The caller passes the result to its own ``compact_*`` entry point,
    so every refusal (horizon, legacy stranded staging) behaves exactly as a
    manual fold — the policy only CHOOSES the key."""
    if max_dirs < 1:
        raise ValueError(f"auto_keep_from: max_dirs must be >= 1, got {max_dirs}")
    if part_key is None:
        part_key = ledger_keying(spark, ledger_dir, "date")
    keys = [k for k in partition_values(spark, ledger_dir, part_key) if k != base_key]
    if len(keys) <= max_dirs:
        return None
    keep_recent = keep_recent if keep_recent is not None else max(1, max_dirs // 2)
    keep_from = keys[-keep_recent] if keep_recent <= len(keys) else keys[0]
    if cap is not None:
        keep_from = min(keep_from, cap)
    # nothing at or below the base key is foldable (reserved), and a
    # keep_from equal to the oldest live key folds nothing — skip the
    # no-op fold instead of spending a horizon marker on it
    if keep_from <= base_key or keep_from <= keys[0]:
        return None
    return keep_from


def auto_compact_epilogue(
    spark: SparkSession,
    ledger_dir: str,
    *,
    max_dirs: int | None,
    compact_fn: Callable[[str], dict],
    checkpoint_dir: str | None = None,
    count_dir: str | None = None,
    part_key: str | None = None,
    base_key: str | None = None,
) -> dict | None:
    """THE auto-compaction epilogue — the one shared implementation of
    the ``--auto-compact-max-dirs`` policy step (VERDICT r12 #4
    collapsed the CLI and streaming-front copies onto this, the same
    consolidation discipline that produced ``base_fold`` itself).

    Returns None when ``max_dirs`` is None (caller didn't opt in), else
    the policy report ``{"max_dirs", "due", ...}``. When a fold fires,
    its result nests INSIDE the policy dict as ``["compaction"]`` —
    never at the caller's report top level, so an invocation that ran a
    manual ``--compact-keep-from`` fold in the same report keeps that
    fold's own ``"compaction"`` entry un-clobbered (ADVICE r12).

    ``checkpoint_dir`` (streamed ``b<id>``-keyed stores) caps the fold
    key at the checkpoint's committed front so a landed-but-uncommitted
    batch is never folded; with no commits yet, nothing is safely
    foldable and the policy reports why. ``count_dir`` points the
    dir-count at a sub-table when the ledger root isn't itself
    partitioned (the postings index counts under ``postings/``)."""
    if max_dirs is None:
        return None
    policy: dict = {"max_dirs": max_dirs, "due": False}
    cap = None
    if checkpoint_dir is not None:
        cap = streaming_committed_front_key(spark, checkpoint_dir)
        if cap is None:  # nothing committed yet -> nothing safely foldable
            policy["reason"] = "no committed streaming front"
            return policy
    kwargs: dict = {}
    if part_key is not None:
        kwargs["part_key"] = part_key
    if base_key is not None:
        kwargs["base_key"] = base_key
    keep_from = auto_keep_from(
        spark, count_dir or ledger_dir, max_dirs=max_dirs, cap=cap, **kwargs
    )
    if keep_from is None:
        return policy
    result = compact_fn(keep_from)
    policy.update({"due": True, "keep_from": keep_from, "compaction": result})
    return policy


def base_fold(
    spark: SparkSession,
    index_dir: str,
    keep_from: str,
    *,
    op_name: str,
    part_key: str,
    base_key: str,
    subtables: dict[str, Callable[[DataFrame], tuple[DataFrame, list[str]]]],
) -> dict:
    """Fold every ``<part_key>=`` partition with key STRICTLY BELOW
    ``keep_from`` (plus any existing base) of each sub-table into the
    reserved ``<part_key>=<base_key>`` partition.

    ``subtables`` maps sub-table name → merge callback taking the
    basePath-read union of the folded partitions and returning the
    merged base frame plus its ``partitionBy`` columns (``[]`` for an
    unpartitioned base). The empty-string sub name means the table's
    partitions live at the INDEX ROOT (the feature store's single-table
    layout). Returns ``{"horizon", "folded": {sub: n}}``. Folding
    SPENDS the folded keys — the store's land/apply path must refuse
    keys below ``fold_horizon``.

    PRECONDITION for ``b<id>``-keyed stores fed by a streaming front
    (ADVICE r11): fold only keys the stream's checkpoint has COMMITTED
    — a landed-but-uncommitted batch will be replayed, and its spent
    key then hits the land-refusal on every restart with no recovery
    path short of a new checkpoint. Run folds with the stream stopped,
    and derive keep_from via ``streaming_committed_front_key`` (the
    auto-compaction path does; the manual --compact-keep-from flags
    leave it to the operator).
    """
    if not keep_from or "/" in keep_from or "=" in keep_from:
        raise ValueError(f"{op_name}: bad keep_from key {keep_from!r}")
    fs, path_cls = hadoop_fs(spark, index_dir)

    def _sub_dir(sub: str) -> str:
        return f"{index_dir}/{sub}" if sub else index_dir

    for sub in subtables:
        refuse_stranded_fold(spark, _sub_dir(sub), op_name, part_key, base_key)
        finish_swaps(spark, _sub_dir(sub))

    # Horizon first (the understatement-proof order — feature store r9).
    prior = fold_horizon(spark, index_dir)
    new_horizon = max(prior or "", keep_from)
    if not fs.mkdirs(path_cls(f"{index_dir}/_horizon={new_horizon}")):
        raise IOError(
            f"{op_name}: mkdirs _horizon={new_horizon} returned false; "
            "nothing staged or dropped yet — safe to re-run"
        )
    if prior is not None and prior != new_horizon:
        old_marker = path_cls(f"{index_dir}/_horizon={prior}")
        if fs.exists(old_marker) and not fs.delete(old_marker, True):
            raise IOError(
                f"{op_name}: delete of stale {old_marker} returned false; "
                "the new marker exists and wins by the MAX rule — remove "
                "the stale one manually, nothing dropped"
            )

    folded: dict[str, int] = {}
    for sub, merge in subtables.items():
        sub_dir = _sub_dir(sub)
        fold = [
            v
            for v in partition_values(spark, sub_dir, part_key)
            if v == base_key or v < keep_from
        ]
        if not fold or fold == [base_key]:
            folded[sub] = 0
            continue
        nonempty = [
            v for v in fold if dir_has_parquet(spark, f"{sub_dir}/{part_key}={v}")
        ]
        base, part_cols = None, []
        if nonempty:
            # mergeSchema: a day-preserving store's base partition
            # carries an extra ``day`` data column the un-folded
            # partitions lack (markov/drift folds) — the union read
            # must surface the superset schema, not one file's.
            base, part_cols = merge(read_partitions(spark, sub_dir, part_key, nonempty))
            base = base.withColumn(part_key, F.lit(base_key))
        replace_partitions(
            spark,
            sub_dir,
            base,
            fold + [base_key],
            extra_partition_cols=part_cols,
            part_col=part_key,
        )
        folded[sub] = len(fold)
    return {"horizon": new_horizon, "folded": folded}
