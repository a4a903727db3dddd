"""Keyed idempotent upsert — the reference's core sink (S7), Spark-first.

Reference: per-row ``INSERT … ON CONFLICT (date, client_id) DO UPDATE``
over a single psycopg2 connection (src/db_operations.py:56-106) — one SQL
round-trip per row, sequential.

Here: a last-writer-wins MERGE over a parquet table partitioned by the
key's date component.

Scale design (the part that must survive 100 TB):
- The target is date-partitioned. A batch reads and rewrites the rows of
  ONLY the dates it contains, never the whole table: daily ingest over
  years of history rewrites one day, not 100 TB. The read still discovers
  every stored date and merges every footer's schema before it filters,
  so that part of its cost grows with the table's history.
- Within affected partitions the winner per key is picked with one window
  (`row_number` over key, newest first) — a single shuffle on the upsert
  key, map-side combinable nowhere but linear in partition size.
- `created_at` semantics (set once on first insert, src/db_operations.py:79)
  are preserved by carrying the existing row's created_at through the merge.
- Idempotence: re-running the same batch yields the same table state (the
  reference gets this accidentally from ON CONFLICT; here it is explicit),
  which is what makes foreachBatch retries exactly-once end-to-end.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestion_lambda_spark.operators.layout import (
    PARTITION_COL,
    finish_swaps,
    partition_values,
    replace_partitions,
)
from data_ingestion_lambda_spark.schemas import UPSERT_KEYS


def merge_last_writer_wins(
    existing: DataFrame | None,
    batch: DataFrame,
    keys: list[str] = UPSERT_KEYS,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Pure merge: the winner per key is picked by ``order_cols``.

    Two ordering regimes, split by column-name convention:

    - **Provenance order cols** (underscore-prefixed, e.g. the default
      ``_ingest_seq``): only batch rows carry them, so ``_is_new`` ranks
      first — batch beats stored, later batch row beats earlier (classic
      last-writer-wins ingest).
    - **Payload order cols** (e.g. the rollup's ``n_events``): BOTH sides
      carry real values, so they rank *before* ``_is_new`` — a stored row
      with a larger value survives a stale batch. This is what makes a
      monotone continuous-aggregate MERGE idempotent under replay from an
      older/rebuilt checkpoint: a re-emitted smaller count can never
      regress the stored window. ``_is_new`` stays as the tie-break so an
      equal-valued re-merge refreshes the batch copy (same table state).

    Expects ``batch`` with columns: key cols + payload + updated_at;
    ``existing`` additionally has created_at.
    """
    order_cols = order_cols or ["_ingest_seq"]
    b = batch
    if "_ingest_seq" in order_cols and "_ingest_seq" not in b.columns:
        b = b.withColumn("_ingest_seq", F.monotonically_increasing_id())
    b = b.withColumn("_is_new", F.lit(1))
    if "created_at" not in b.columns:
        b = b.withColumn("created_at", F.col("updated_at"))

    if existing is None:
        merged = b
    else:
        e = existing.withColumn("_is_new", F.lit(0))
        # Existing rows never carry ingest-provenance columns; NULL loses
        # every comparison but _is_new=0 already ranks them last.
        for c in order_cols:
            if c not in e.columns:
                e = e.withColumn(c, F.lit(None))
        merged = b.unionByName(e.select(*b.columns))

    # One shuffle on the upsert key. Payload order cols outrank _is_new
    # (both sides have real values; NULLs sort last under desc so a NULL
    # payload value never beats a real one); provenance cols rank after it.
    payload_order = [c for c in order_cols if not c.startswith("_")]
    provenance_order = [c for c in order_cols if c.startswith("_")]
    w = Window.partitionBy(*keys).orderBy(
        *[F.desc(c) for c in payload_order],
        F.desc("_is_new"),
        *[F.desc(c) for c in provenance_order],
    )
    first_created = F.min("created_at").over(Window.partitionBy(*keys))
    # Drop bookkeeping columns; an order col that is real payload (e.g.
    # ordering by updated_at) stays — only underscore-prefixed plumbing
    # columns are internal by convention.
    internal = [c for c in order_cols if c.startswith("_")]
    return (
        merged.withColumn("created_at", first_created)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_is_new", "_ingest_seq", *internal)
    )


def _align_schemas(existing: DataFrame, batch: DataFrame):
    """Additive schema evolution for the upsert target: a NEW batch column
    widens the stored table (old rows read as NULL); a column the batch
    stopped sending stays, NULL on the batch side, so history is never
    dropped by a producer change. A TYPE change on a shared column is
    rejected loudly — silent cross-type coercion is how a long-lived
    table corrupts (the reference has no schema contract at all beyond
    name presence, SURVEY §1.3; this is the managed version)."""
    e_types = dict(existing.dtypes)
    b_types = dict(batch.dtypes)
    conflicts = {
        c: (e_types[c], b_types[c])
        for c in e_types.keys() & b_types.keys()
        # PARTITION_COL is excluded: partition-directory inference types it
        # (date vs the batch's string) and the merge has always normalized
        # it — not a producer schema change.
        if e_types[c] != b_types[c] and not c.startswith("_") and c != PARTITION_COL
    }
    if conflicts:
        raise ValueError(
            f"incompatible schema evolution — column type changes: {conflicts}; "
            "cast the batch explicitly or migrate the table"
        )
    for c, dt in b_types.items():
        if c not in e_types:
            existing = existing.withColumn(c, F.lit(None).cast(dt))
    for c, dt in e_types.items():
        if c not in b_types and not c.startswith("_"):
            batch = batch.withColumn(c, F.lit(None).cast(dt))
    return existing, batch


def _merge_and_swap(
    spark: SparkSession,
    target_dir: str,
    batch: DataFrame,
    keys: list[str],
    order_cols: list[str] | None,
    before_swap: Callable[[DataFrame | None, DataFrame], None] | None = None,
    dates: list | None = None,
) -> list:
    """The merge core of both public upserts: take the batch's ``dates``
    (collected here, over a cached ``batch``, when the caller passes
    None), read the stored rows of those dates aligned to the batch's
    schema, merge, run ``before_swap(existing, merged)`` if given, then
    swap the merged partitions in. Returns the dates written."""
    # A swap a crashed run left must be finished before the read below:
    # its deleted partitions' rows, stored ones included, are in staging.
    finish_swaps(spark, target_dir)
    held = []
    try:
        if dates is None:
            batch = batch.cache()
            held.append(batch)
            dates = [r[0] for r in batch.select(PARTITION_COL).distinct().collect()]
        if not dates:
            return []

        # Partition listing through the Hadoop FS API so the same code
        # works on s3a://, hdfs://, abfss:// and file:// targets. Gating
        # the read on actual date=* partitions (not bare dir existence)
        # also survives a target emptied by retention or a crashed swap —
        # a bare spark.read.parquet on an empty dir throws and would wedge
        # every subsequent ingest run.
        existing = None
        if partition_values(spark, target_dir, PARTITION_COL):
            # Schema merge: partitions written before an additive schema
            # evolution carry the narrower schema; the union read widens
            # them with NULLs.
            existing = (
                spark.read.option("mergeSchema", "true")
                .parquet(target_dir)
                .filter(F.col(PARTITION_COL).isin(dates))
            )
            existing, batch = _align_schemas(existing, batch)

        merged = merge_last_writer_wins(existing, batch, keys=keys, order_cols=order_cols)
        # (No extra repartition: the merge window already shuffled by key,
        # and AQE coalesces output partitions.)
        if before_swap is not None:
            # Persisted: the step and the swap both consume it. The step
            # must MATERIALIZE what it needs before the swap — `existing`
            # lazily reads the very files the swap deletes.
            merged = merged.persist()
            held.append(merged)
            before_swap(existing, merged)
        replace_partitions(spark, target_dir, merged, dates)
        return dates
    finally:
        for df in held:
            df.unpersist()


def upsert_into_parquet(
    spark: SparkSession,
    target_dir: str,
    batch: DataFrame,
    keys: list[str] = UPSERT_KEYS,
    order_cols: list[str] | None = None,
    *,
    dates: list | None = None,
) -> list:
    """MERGE ``batch`` into the date-partitioned parquet table at
    ``target_dir``, rewriting only the partitions present in the batch.
    Returns the list of date values written (empty for an empty batch).
    ``dates`` are the batch's distinct date values when the caller
    already has them (the streaming ingest observes them in its one pass
    over the micro-batch); None makes the merge collect them, at the cost
    of caching ``batch`` and a distinct job.

    Commit protocol: the merged result is fully materialized into a hidden
    staging directory first (dot-prefixed → invisible to readers), then
    each touched date partition is swapped in with a delete+rename. The
    full-job failure mode (crash during the merge write) therefore leaves
    the target untouched; the remaining non-atomic window is the instant
    between one partition's delete and its rename. A crash there leaves
    that date's rows, stored ones included, in the complete
    ``.staging-swap-<uuid>``, and the next writer of the table (a re-run
    included) finishes that swap before it reads the table, so the
    re-run converges to the state of a run that did not crash. Per-file,
    the reference has the same shape via DB transactions
    (src/db_operations.py:29)."""
    return _merge_and_swap(spark, target_dir, batch, keys, order_cols, dates=dates)


_NULL_DIGEST = "-" * 32  # fixed-width, not hex: unreachable by md5


def _row_digest(
    df: DataFrame, keys: list[str], alias: str, ignore: tuple = ()
) -> DataFrame:
    """(keys..., <alias>) with one md5 digest over every non-key,
    non-internal, non-ignored column — the snapshot-diff discipline
    (each column hashed independently, NULL → a fixed-width non-hex
    sentinel, digests concatenated) so change detection never confuses
    NULL with a literal or shifts field boundaries on separator
    characters."""
    cols = sorted(
        c
        for c in df.columns
        if c not in keys and c not in ignore and not c.startswith("_")
    )
    per_col = [
        F.coalesce(F.md5(F.col(c).cast("string")), F.lit(_NULL_DIGEST))
        for c in cols
    ]
    digest = F.md5(F.concat(*per_col)) if per_col else F.lit(_NULL_DIGEST)
    return df.select(*keys, digest.alias(alias))


def upsert_into_parquet_with_cdc(
    spark: SparkSession,
    target_dir: str,
    batch: DataFrame,
    change_key: str,
    changes_dir: str | None = None,
    keys: list[str] = UPSERT_KEYS,
    order_cols: list[str] | None = None,
    ignore_cols: tuple = (),
    *,
    dates: list | None = None,
) -> dict:
    """MERGE like ``upsert_into_parquet`` and ALSO persist the batch's
    CHANGE FEED: one row per key the merge actually touched, labeled
    ``insert`` (key new to its partition) or ``update`` (key existed,
    any payload column changed), carrying the full post-merge row.
    Unchanged keys (a stale batch row losing last-writer-wins, or a
    bit-identical re-send) emit NOTHING — the feed is the merge's
    effect, not its input. Deletes cannot occur under this merge.

    This is the change-data-capture contract downstream incrementals
    need: applying the feed rows (upsert by key) to any copy of the
    PRE-merge table reproduces the POST-merge table exactly — pinned in
    tests/test_upsert_cdc.py. The feed lands under
    ``changes_dir`` (default ``{target}/_changes`` — underscore-hidden
    from readers of the table itself) in its own
    ``date=<change_key>`` partition via the staged swap, so a replayed
    (batch, change_key) overwrites only its own feed partition —
    idempotent end to end.

    ``ignore_cols`` excludes columns from change DETECTION (the feed row
    still carries their post-merge values) — pass the processing-time
    audit columns (updated_at/created_at) so an identical re-send whose
    only difference is a refreshed ingest timestamp is a no-op, not an
    update; the documented cost is that the apply-feed-to-pre
    equivalence then holds up to those columns on unchanged-payload
    rows. ``dates`` is ``upsert_into_parquet``'s.

    Plan cost over the plain upsert: the merged result is persisted and
    compared against the pre-merge rows of the touched partitions with
    ONE keys-equi left join of row DIGESTS (never payload), over the
    same filtered read as the merge itself."""
    feed_dir = changes_dir or f"{target_dir}/_changes"
    counts: dict = {}

    def write_feed(existing: DataFrame | None, merged: DataFrame) -> None:
        if existing is None:
            cdc = merged.withColumn("_op", F.lit("insert"))
        else:
            pre = _row_digest(existing, keys, "_pre_digest", ignore=ignore_cols)
            post = _row_digest(merged, keys, "_post_digest", ignore=ignore_cols)
            changed = (
                post.join(pre, keys, "left")
                .filter(
                    F.col("_pre_digest").isNull()
                    | (F.col("_post_digest") != F.col("_pre_digest"))
                )
                .select(
                    *keys,
                    F.when(F.col("_pre_digest").isNull(), "insert")
                    .otherwise("update")
                    .alias("_op"),
                )
            )
            cdc = merged.join(changed, keys)
        # Persisted: the digest comparison reads the pre-merge partitions
        # and hashes both sides — without the cache, the emptiness probe
        # and the feed write would each pay that pipeline in full.
        feed = (
            cdc.select(
                F.col("_op").alias("op"),
                *[c for c in merged.columns if c != PARTITION_COL],
                # pinned to string: the merged frame's date type differs
                # between the first batch (no existing table — the batch's
                # own string) and later ones (the union coerces toward the
                # stored partition column's DATE), and a feed whose
                # partitions disagree on row_date's physical type breaks
                # every multi-partition read (erasure, subscribers reading
                # a batch range)
                F.col(PARTITION_COL).cast("string").alias("row_date"),
            )
            .withColumn(PARTITION_COL, F.lit(change_key))
            .persist()
        )
        try:
            if feed.limit(1).count() == 0:
                # Nothing changed. Either this logical batch genuinely had
                # no effect (every row lost last-writer-wins or re-sent
                # identical payloads) — no feed partition to write — or
                # this is an at-least-once REPLAY of a batch whose effect
                # already applied: the recompute against the post-apply
                # state is empty, and overwriting the feed with it would
                # destroy the logical batch's recorded effect. Keep any
                # existing partition; the table swap still re-merges
                # (idempotent either way).
                return
            replace_partitions(spark, feed_dir, feed, [change_key])
            counts.update(
                (r["op"], r["n"])
                for r in spark.read.parquet(f"{feed_dir}/{PARTITION_COL}={change_key}")
                .groupBy("op")
                .agg(F.count("*").alias("n"))
                .collect()
            )
        finally:
            feed.unpersist()

    written = _merge_and_swap(
        spark, target_dir, batch, keys, order_cols, write_feed, dates=dates
    )
    return {
        "dates": written,
        "inserts": counts.get("insert", 0),
        "updates": counts.get("update", 0),
        "changes_dir": feed_dir,
    }
