"""Directory-name layout: the one module that lists, parses and swaps it.

Every table and store here keeps its state in directory names, the way
the reference keeps its progress in S3 keys (src/s3_processor.py:113-210):

- data partitions ``<key>=<value>`` — ``date=``, ``ingest_batch=`` and
  the quarantine's ``_batch_id=``;
- marker directories ``_<name>=<value>`` — ``_horizon=``, ``_sizing=``,
  ``_target=``, ``_keyed_by=`` and ``_order=``; empty dirs, because a
  mkdir is atomic on every Hadoop FS and the underscore hides them from
  Spark's file index (a marker is read like a partition, by its own key);
- swap directories, dot-prefixed so readers never see them:
  ``.staging-<uuid>`` (``replace_partitions``) and ``.compact-staging``
  (``fold_swap``).

All directory I/O goes through the JVM Hadoop FS API, so the same code
runs on file://, hdfs://, s3a:// and abfss:// paths. Hadoop reports most
failures by RETURNING FALSE, not raising; every swap step here checks it
and raises with the directory that still holds the data.

What a marker value MEANS (legacy defaults, refusals) stays with each
store; this module owns only the listing, parsing and swap mechanics.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession

PARTITION_COL = "date"
KEYINGS = ("date", "ingest_batch")  # the two ledger partition columns
FOLD_STAGING = ".compact-staging"


def hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path-class) for ``path``'s own scheme
    (s3a/hdfs/file/...) via the JVM Hadoop FS API — the FS-agnostic
    replacement for os.path operations."""
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    path_cls = jvm.org.apache.hadoop.fs.Path
    return path_cls(path).getFileSystem(hconf), path_cls


def _dir_names(spark: SparkSession, path: str) -> list[str]:
    """Names of the directories directly under ``path`` (one LIST; no
    file reads); empty for a missing path."""
    fs, path_cls = hadoop_fs(spark, path)
    root = path_cls(path)
    if not fs.exists(root):
        return []
    return [st.getPath().getName() for st in fs.listStatus(root) if st.isDirectory()]


def partition_values(spark: SparkSession, path: str, key: str) -> list[str]:
    """Values of the ``<key>=<value>`` directories directly under
    ``path``, sorted as strings. Only directories count (a stray file
    named ``date=…`` is not a partition); a missing path gives ``[]``.
    Markers are read the same way, by their own key (``_horizon``)."""
    prefix = f"{key}="
    return sorted(n[len(prefix):] for n in _dir_names(spark, path) if n.startswith(prefix))


def read_partitions(
    spark: SparkSession, path: str, key: str, values: list[str]
) -> DataFrame:
    """basePath read of exactly the named ``<key>=`` partitions, so the
    key comes back as a column. mergeSchema surfaces the superset schema
    when partitions evolved; a column absent from an old partition reads
    as NULL."""
    return (
        spark.read.option("basePath", path)
        .option("mergeSchema", "true")
        .parquet(*[f"{path}/{key}={v}" for v in values])
    )


def dir_has_parquet(spark: SparkSession, path: str) -> bool:
    """Does any .parquet file live under ``path`` (itself or one level of
    data subdirs)? An empty partition dir cannot be read — schema
    inference over it fails — so callers delete it instead."""
    fs, path_cls = hadoop_fs(spark, path)
    root = path_cls(path)
    if not fs.exists(root):
        return False
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if st.isFile() and name.endswith(".parquet"):
            return True
        if st.isDirectory() and not name.startswith((".", "_")):
            for kid in fs.listStatus(st.getPath()):
                if kid.isFile() and kid.getPath().getName().endswith(".parquet"):
                    return True
    return False


def committed_front(spark: SparkSession, checkpoint_dir: str) -> int | None:
    """Highest batch id a streaming checkpoint has COMMITTED (the
    ``commits/`` metadata log — a commit file lands only after the
    batch's foreachBatch body returned, so ids at or below this front
    are never replayed). None when the checkpoint has no commits yet."""
    fs, path_cls = hadoop_fs(spark, checkpoint_dir)
    commits = path_cls(f"{checkpoint_dir}/commits")
    if not fs.exists(commits):
        return None
    ids = [
        int(st.getPath().getName())
        for st in fs.listStatus(commits)
        if st.isFile() and st.getPath().getName().isdigit()
    ]
    return max(ids) if ids else None


def ledger_keying(
    spark: SparkSession, path: str, default: str | None = None
) -> str | None:
    """The ledger partition column of the store at ``path``: its
    ``_keyed_by=`` marker when present, else inferred from the
    ``date=``/``ingest_batch=`` dirs, else ``default``. A directory
    holding both is refused: Spark's partition discovery rejects
    conflicting partition columns at one level, so it cannot be read."""
    names = _dir_names(spark, path)
    marked = [n.split("=", 1)[1] for n in names if n.startswith("_keyed_by=")]
    if marked:
        return marked[0]
    present = sorted({k for k in KEYINGS for n in names if n.startswith(f"{k}=")})
    if len(present) > 1:
        raise ValueError(
            f"ledger at {path} mixes {present} partitions — reads are "
            "broken; split the ledgers into separate dirs"
        )
    return present[0] if present else default


def replace_partitions(
    spark: SparkSession,
    target_dir: str,
    df: DataFrame,
    dates,
    extra_partition_cols: tuple[str, ...] = (),
    part_col: str = PARTITION_COL,
) -> None:
    """Staged per-partition commit: materialize ``df`` into a hidden
    staging directory (dot-prefixed → invisible to readers), then swap
    each listed date partition in with delete+rename.

    ``extra_partition_cols`` adds secondary Hive partition levels UNDER
    the date (e.g. ``date=D/cell=C/``) so readers can partition-prune on
    them; the commit protocol is unchanged — the swap still moves whole
    ``date=D`` directories (sub-partitions ride along atomically), so the
    idempotence and failure contracts below hold regardless.

    Empty partitions REPLACE too (ADVICE r9): a listed date for which
    ``df`` stages no rows means "this partition's new content is
    empty" — the old partition is deleted outright, mirroring the
    fully-erased-partition handling in ``erasure.erase_keys``. Without
    this, re-applying a corrected store batch that now produces zero
    rows would silently leave the stale partition in place. (Callers
    that want "empty recompute keeps the old partition" — the CDC
    feed's replay guard — must skip the call, as that caller does.)

    Stage 1 fully consumes any snapshot reads of the live partitions
    before stage 2 touches them; rename is atomic on HDFS-like stores, so
    the non-atomic window is one partition's delete→rename instant.
    Failure safety: Hadoop rename reports most failures by RETURNING
    FALSE, not raising — a failed or crashed swap raises and PRESERVES the
    staging directory (it holds the only copy of that partition's merged
    data, including pre-existing rows); the error names the path for
    manual recovery or a re-run."""
    staging_dir = f"{target_dir}/.staging-{uuid.uuid4().hex}"
    df.write.mode("overwrite").partitionBy(
        part_col, *extra_partition_cols
    ).parquet(staging_dir)

    fs, path_cls = hadoop_fs(spark, target_dir)
    fs.mkdirs(path_cls(target_dir))
    for d in dates:
        part = f"{part_col}={d}"
        src = path_cls(f"{staging_dir}/{part}")
        dst = path_cls(f"{target_dir}/{part}")
        if fs.exists(src):
            if fs.exists(dst) and not fs.delete(dst, True):
                raise IOError(
                    f"partition swap failed: delete {dst} returned false; "
                    f"staged data preserved under {staging_dir}"
                )
            if not fs.rename(src, dst):
                raise IOError(
                    f"partition swap failed: rename {src} -> {dst} returned false; "
                    f"staged data preserved under {staging_dir}"
                )
        elif fs.exists(dst):
            # df staged nothing for this listed date: its new content is
            # empty — replace means delete, not keep (ADVICE r9). Hadoop
            # FS reports most failures by RETURNING FALSE, not raising —
            # a swallowed false here would keep serving the stale rows
            # this branch exists to remove (review r10).
            if not fs.delete(dst, True):
                raise IOError(
                    f"empty-partition replace failed: delete {dst} returned false"
                )
    # All swaps succeeded — only now discard staging. (On failure the
    # staging dir is deliberately left in place; it is dot-prefixed, so
    # readers never see it.)
    fs.delete(path_cls(staging_dir), True)


def refuse_stranded_fold(
    spark: SparkSession, path: str, op_name: str, part_key: str, base_key: str
) -> None:
    """Refuse to run over a ``.compact-staging`` left by a crashed
    ``fold_swap``: it holds the only complete copy of the folded base,
    and recompacting the partly-dropped partitions would lose rows."""
    staging = f"{path}/{FOLD_STAGING}"
    fs, path_cls = hadoop_fs(spark, path)
    if fs.exists(path_cls(staging)):
        raise RuntimeError(
            f"{op_name}: stranded {staging} from a crashed compaction — it "
            "holds the full pre-crash base; remove any leftover folded "
            f"{part_key}=* dirs under {path} and rename it to "
            f"{part_key}={base_key}"
        )


def fold_swap(
    spark: SparkSession,
    path: str,
    fold: list[str],
    base: DataFrame | None,
    *,
    op_name: str,
    part_key: str,
    base_key: str,
    partition_by: list[str] | tuple[str, ...] = (),
) -> None:
    """Replace the ``<part_key>=`` partitions named in ``fold`` (the old
    base among them, if any) with one base partition
    ``<part_key>=<base_key>`` holding ``base``: stage ``base`` in
    ``.compact-staging``, delete the folded partitions, rename staging
    to the base. ``base=None`` only deletes (the folded dirs held no
    rows). Every moment has a complete copy on disk; a crash between the
    deletes and the rename leaves staging as that copy, and the next run
    refuses (``refuse_stranded_fold``) until it is moved into place."""
    # Checked again here, not only by the caller: the staging write
    # below overwrites, and a stranded staging is the only copy.
    refuse_stranded_fold(spark, path, op_name, part_key, base_key)
    fs, path_cls = hadoop_fs(spark, path)
    staging = f"{path}/{FOLD_STAGING}"
    target = f"{part_key}={base_key}"
    if base is not None:
        writer = base.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(staging)
    for v in fold:
        full = path_cls(f"{path}/{part_key}={v}")
        if fs.exists(full) and not fs.delete(full, True):
            raise IOError(
                f"{op_name}: delete of {full} returned false; "
                + (
                    f"full compacted base preserved at {staging} — finish "
                    f"by removing remaining folded {part_key}=* dirs and "
                    f"renaming it to {target}"
                    if base is not None
                    else "the folded dirs were empty; remove manually"
                )
            )
    if base is not None and not fs.rename(
        path_cls(staging), path_cls(f"{path}/{target}")
    ):
        raise IOError(
            f"{op_name}: rename {staging} -> {target} returned false; the "
            "compacted base is intact in staging — rename it manually to "
            "finish"
        )
