"""Directory-name layout: the one module that lists, parses and swaps it.

Every table and store here keeps its state in directory names, the way
the reference keeps its progress in S3 keys (src/s3_processor.py:113-210):

- data partitions ``<key>=<value>`` — ``date=``, ``ingest_batch=`` and
  the ingest quarantine's and log's ``_batch_id=``; a streamed batch's
  key is ``batch_key`` (``b`` and nine digits), and ``key_column`` reads
  a ledger's partition column off the form of its key;
- marker directories ``_<name>=<value>`` — ``_horizon=``, ``_sizing=``,
  ``_target=``, ``_keyed_by=`` and ``_order=``; empty dirs, because a
  mkdir is atomic on every Hadoop FS and the underscore hides them from
  Spark's file index (a marker is read like a partition, by its own key);
- swap directories ``.staging-swap-<uuid>``, dot-prefixed so readers
  never see them. ``replace_partitions`` is the one staged partition
  swap: every upsert, store apply, fold, compaction, erasure and expiry
  goes through it. Its staging dir records its plan and then a complete
  mark, so one crash rule covers every caller: the next writer of the
  directory finishes a complete staging dir and deletes an incomplete
  one (``finish_swaps``). That rule assumes ONE writer per directory at
  a time. Earlier versions left two other shapes, both refused when
  they may hold the only copy of a partition: ``.compact-staging``
  (``refuse_stranded_fold``) and a plain ``.staging-<uuid>``
  (``finish_swaps``).

All directory I/O goes through the JVM Hadoop FS API, so the same code
runs on file://, hdfs://, s3a:// and abfss:// paths. Hadoop reports most
failures by RETURNING FALSE, not raising; every swap step here checks it
and raises.

What a marker value MEANS (legacy defaults, refusals) stays with each
store; this module owns only the listing, parsing and swap mechanics.
"""

from __future__ import annotations

import datetime as _dt
import re
import uuid

from pyspark.sql import DataFrame, SparkSession

PARTITION_COL = "date"
KEYINGS = ("date", "ingest_batch")  # the two ledger partition columns
STAGING_PREFIX = ".staging-"  # every swap dir, this version's and legacy
SWAP_STAGING = ".staging-swap-"  # the ones replace_partitions writes
FOLD_STAGING = ".compact-staging"  # legacy: see refuse_stranded_fold


def batch_key(batch_id: int) -> str:
    """The ledger key of streamed micro-batch ``batch_id``: ``b`` and nine
    digits, so keys sort in batch order and above every ISO date."""
    return f"b{batch_id:09d}"


def key_column(key: str) -> str:
    """The ledger partition column a key lands under, read from its form:
    ``ingest_batch`` for a ``batch_key``, ``date`` for an ISO date. Any
    other key is refused (``ValueError``)."""
    if re.fullmatch(r"b\d{9}", key):
        return "ingest_batch"
    _dt.date.fromisoformat(key)
    return "date"


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


def has_partition(spark: SparkSession, path: str, key: str, value) -> bool:
    """Does ``path`` hold the ``<key>=<value>`` directory? One existence
    check, no listing."""
    fs, path_cls = hadoop_fs(spark, path)
    return fs.exists(path_cls(f"{path}/{key}={value}"))


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
    df: DataFrame | None,
    dates,
    extra_partition_cols: tuple[str, ...] = (),
    part_col: str = PARTITION_COL,
) -> None:
    """The package's one staged partition swap: the listed ``<part_col>=``
    partitions of ``target_dir`` become what ``df`` holds for them.

    1. Finish any swap a crashed writer left (``finish_swaps``).
    2. Write ``df`` under ``.staging-swap-<uuid>`` (dot-prefixed, so readers
       never see it), partitioned by ``part_col`` and then
       ``extra_partition_cols`` (secondary levels such as
       ``date=D/cell=C/`` ride along inside each swapped directory).
    3. Record the plan in marker dirs: ``_swap=<v>`` for each listed
       value the write staged, ``_drop=<v>`` for each it did not, then
       ``_complete=<part_col>`` last of all.
    4. Carry the plan out: delete and rename each staged partition into
       place, delete each drop-only partition, remove the staging dir.

    A listed value that stages nothing REPLACES with nothing (ADVICE r9):
    its old partition is deleted, so a corrected batch that now yields
    zero rows cannot leave stale ones. ``df=None`` stages nothing at all,
    which makes the call a delete of every listed partition. A caller
    that wants "empty recompute keeps the old partition" (the CDC feed's
    replay guard) skips the call.

    Crash rule: a staging dir without ``_complete=`` is deleted by the
    next writer, which recomputes from an untouched table; one with it
    is finished by the next writer, because step 4 may already have
    deleted partitions whose rows live only in staging. Every Hadoop
    step that reports failure by RETURNING FALSE raises here, leaving the
    staging dir for that next writer."""
    finish_swaps(spark, target_dir)
    staging = f"{target_dir}/{SWAP_STAGING}{uuid.uuid4().hex}"
    fs, path_cls = hadoop_fs(spark, target_dir)
    if df is not None:
        df.write.mode("overwrite").partitionBy(
            part_col, *extra_partition_cols
        ).parquet(staging)
        # Another writer's finish_swaps deletes an incomplete staging dir;
        # swapping in what is left would turn this replace into a delete.
        if not fs.exists(path_cls(f"{staging}/_SUCCESS")):
            raise IOError(f"partition swap: {staging} vanished; one writer per dir")
    staged = set(partition_values(spark, staging, part_col))
    for v in dict.fromkeys(str(d) for d in dates):
        _mkdir(fs, path_cls, f"{staging}/{'_swap' if v in staged else '_drop'}={v}")
    _mkdir(fs, path_cls, f"{staging}/_complete={part_col}")
    _finish(fs, path_cls, target_dir, staging)


def finish_swaps(spark: SparkSession, target_dir: str) -> None:
    """The one crash rule for ``target_dir``: finish every complete
    ``.staging-swap-*`` a crashed ``replace_partitions`` left and delete
    every incomplete one. Idempotent, so a crash inside it is finished by
    the next call. A plain ``.staging-<uuid>`` comes from earlier
    versions, whose swap deleted a partition before renaming its staged
    copy in: one whose write completed (``_SUCCESS``) and that holds a
    partition missing from the table REFUSES, because that is the only
    copy; any other is deleted. ``replace_partitions`` runs it on entry;
    a caller that READS the table and rewrites it runs it before building
    that read, so the read never sees a half-swapped table."""
    fs, path_cls = hadoop_fs(spark, target_dir)
    for name in _dir_names(spark, target_dir):
        if name.startswith(STAGING_PREFIX):
            _finish(fs, path_cls, target_dir, f"{target_dir}/{name}")


def _mkdir(fs, path_cls, path: str) -> None:
    if not fs.mkdirs(path_cls(path)):
        raise IOError(f"partition swap failed: mkdirs {path} returned false")


def _finish(fs, path_cls, target_dir: str, staging: str) -> None:
    """Carry out the plan recorded in ``staging`` (nothing when it has no
    ``_complete=`` mark), then remove it. Every step is skipped when
    already done: a staged partition no longer in staging was renamed,
    and a drop-only partition never comes back."""
    names = [st.getPath().getName() for st in fs.listStatus(path_cls(staging))]
    legacy = not staging.rsplit("/", 1)[1].startswith(SWAP_STAGING)
    for part in names if legacy and "_SUCCESS" in names else []:
        live = path_cls(f"{target_dir}/{part}")
        if "=" in part and not part.startswith(("_", ".")) and not fs.exists(live):
            raise IOError(
                f"{staging} (left by an earlier version's crashed swap) holds "
                f"the only copy of {part}: rename {staging}/{part} to {live}, "
                "delete the staging dir and re-run"
            )
    complete = [n.split("=", 1)[1] for n in names if n.startswith("_complete=")]
    for name in names if complete else []:
        step, _, v = name.partition("=")
        part = f"{complete[0]}={v}"
        dst = path_cls(f"{target_dir}/{part}")
        if step == "_swap" and part in names:
            if fs.exists(dst) and not fs.delete(dst, True):
                raise IOError(
                    f"partition swap failed: delete {dst} returned false; the "
                    f"next writer of {target_dir} finishes {staging}"
                )
            if not fs.rename(path_cls(f"{staging}/{part}"), dst):
                raise IOError(
                    f"partition swap failed: rename {staging}/{part} -> {dst} "
                    f"returned false; the next writer of {target_dir} finishes it"
                )
        elif step == "_drop" and fs.exists(dst) and not fs.delete(dst, True):
            raise IOError(f"partition swap failed: delete {dst} returned false")
    if not fs.delete(path_cls(staging), True):
        raise IOError(f"partition swap failed: delete {staging} returned false")


def refuse_stranded_fold(
    spark: SparkSession, path: str, op_name: str, part_key: str, base_key: str
) -> None:
    """Legacy guard: refuse to run over a ``.compact-staging`` left by a
    crash of the fold swap this package used before every fold went
    through ``replace_partitions``. It holds the only complete copy of
    the folded base, and recompacting the partly-dropped partitions
    would lose rows. Nothing writes ``.compact-staging`` any more."""
    staging = f"{path}/{FOLD_STAGING}"
    fs, path_cls = hadoop_fs(spark, path)
    if fs.exists(path_cls(staging)):
        raise RuntimeError(
            f"{op_name}: stranded {staging} from a crashed compaction — it "
            "holds the full pre-crash base; remove any leftover folded "
            f"{part_key}=* dirs under {path} and rename it to "
            f"{part_key}={base_key}"
        )
