"""Table snapshots: versioned, immutable views of the upsert target.

Training-data reproducibility ("exactly which rows trained model X") needs
the table AS OF a version, but the staged-swap MERGE
(operators/layout.py::replace_partitions) rewrites whole date partitions
in place. A snapshot freezes the current table state under
``<target>/.snapshots/v<N>/`` — dot-prefixed, so live readers never see
it — with a JSON manifest of every data file and its size.

Mechanism: hardlinks (os.link) when source and snapshot share a local
filesystem — freezing a multi-TB table costs directory entries, not
bytes, because the swap DELETES old partition dirs rather than truncating
files, so a hardlinked snapshot keeps the old blocks alive.

FS-agnostic: every function accepts an optional ``spark``; when given,
ALL directory/manifest I/O goes through the Hadoop FS API
(operators/layout.py::hadoop_fs), so the same code runs against
hdfs:// / s3a:// / abfss:// targets. Materialization on a non-local FS
falls back to ``FileUtil.copy`` per file — a BYTE COPY, not a link:
object stores and HDFS have no hardlink, so freezing costs one read+write
of the table there (run it before, not after, the day's swaps). On a
versioned object store the cheaper design is manifest-only — objects are
immutable, so recording their keys IS the snapshot, and this module's
manifest format is exactly that list — but that requires the SWAP to
leave old objects in place, which replace_partitions does not; hence the
copy. Without ``spark`` the implementation is plain-os and LOCAL PATHS
ONLY (the CLI always passes the session). Both constraints are surfaced
in the CLI's ``snapshot`` help, not just here.

Reference parity: the reference keeps no history at all (its MERGE
overwrites, src/db_operations.py:56-106); this is a §2.11 north-star
extension.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestion_lambda_spark.operators.layout import hadoop_fs

_SNAP_ROOT = ".snapshots"
_MANIFEST = "manifest.json"


def _snap_root(target_dir: str) -> str:
    return f"{target_dir.rstrip('/')}/{_SNAP_ROOT}"


# --- Hadoop-FS plumbing (used whenever a session is provided) ---------------


def _fs_walk_data_files(fs, path_cls, base: str) -> list[str]:
    """Relative paths of every visible data file under ``base`` (hidden
    dirs/files skipped) — the Hadoop twin of os.walk."""
    out: list[str] = []
    base_uri = fs.makeQualified(path_cls(base)).toString().rstrip("/")

    def _walk(p):
        for st in fs.listStatus(p):
            name = st.getPath().getName()
            if name.startswith((".", "_")):
                continue
            if st.isDirectory():
                _walk(st.getPath())
            else:
                full = st.getPath().toString()
                out.append(full[len(base_uri) + 1 :])

    _walk(path_cls(base))
    return sorted(out)


def _fs_read_json(spark, fs, path_cls, path: str) -> dict:
    jvm = spark.sparkContext._jvm
    stream = fs.open(path_cls(path))
    try:
        text = jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()
    return json.loads(text)


def _fs_write_json_atomic(fs, path_cls, tmp: str, dst: str, payload: dict) -> None:
    out = fs.create(path_cls(tmp), True)
    try:
        out.write(bytearray(json.dumps(payload, indent=1, sort_keys=True), "utf-8"))
    finally:
        out.close()
    if not fs.rename(path_cls(tmp), path_cls(dst)):
        raise IOError(f"snapshot: rename {tmp} -> {dst} returned false")


def _local_root(fs, path_cls, path: str) -> str | None:
    """The plain-os path when ``path`` lives on the local FS (scheme-less
    or file:), else None. Hardlinks exist only here."""
    qualified = fs.makeQualified(path_cls(path)).toUri()
    if qualified.getScheme() in (None, "file"):
        return qualified.getPath()
    return None


def _materialize(spark, fs, path_cls, src: str, dst: str) -> None:
    """One data file into the snapshot: hardlink on the local FS (bytes
    are shared, the freeze costs a directory entry), FileUtil.copy
    elsewhere (no link primitive exists — a real byte copy)."""
    lsrc, ldst = _local_root(fs, path_cls, src), _local_root(fs, path_cls, dst)
    if lsrc is not None and ldst is not None:
        os.makedirs(os.path.dirname(ldst), exist_ok=True)
        try:
            os.link(lsrc, ldst)
            return
        except OSError:
            shutil.copy2(lsrc, ldst)  # cross-device fallback
            return
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    if not jvm.org.apache.hadoop.fs.FileUtil.copy(
        fs, path_cls(src), fs, path_cls(dst), False, hconf
    ):
        raise IOError(f"snapshot: copy {src} -> {dst} returned false")


# --- plain-os fallbacks (spark=None; local paths only) ----------------------


def _data_files(target_dir: str) -> list[str]:
    """Relative paths of every visible data file (hidden dirs skipped)."""
    out = []
    for root, dirs, files in os.walk(target_dir):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        for f in files:
            if f.startswith((".", "_")):
                continue
            out.append(os.path.relpath(os.path.join(root, f), target_dir))
    return sorted(out)


def list_snapshots(target_dir: str, spark: SparkSession | None = None) -> list[dict]:
    root = _snap_root(target_dir)
    snaps = []
    if spark is not None:
        fs, path_cls = hadoop_fs(spark, target_dir)
        if not fs.exists(path_cls(root)):
            return []
        for st in fs.listStatus(path_cls(root)):
            name = st.getPath().getName()
            mf = f"{root}/{name}/{_MANIFEST}"
            if name.startswith("v") and st.isDirectory() and fs.exists(path_cls(mf)):
                snaps.append(_fs_read_json(spark, fs, path_cls, mf))
        return sorted(snaps, key=lambda s: s["version"])
    if not os.path.isdir(root):
        return []
    for name in sorted(os.listdir(root)):
        mf = os.path.join(root, name, _MANIFEST)
        if name.startswith("v") and os.path.isfile(mf):
            with open(mf) as fh:
                snaps.append(json.load(fh))
    return sorted(snaps, key=lambda s: s["version"])


def snapshot_table(
    target_dir: str, note: str = "", spark: SparkSession | None = None
) -> int:
    """Freeze the current table state as the next version; returns it.

    Write order is crash-safe: data files land first, the manifest last —
    a half-written snapshot has no manifest and is invisible to
    list/read/expire. With ``spark``, works on any Hadoop FS (see module
    docstring for the local-hardlink vs remote-copy economics); without,
    local paths only."""
    existing = list_snapshots(target_dir, spark=spark)
    version = (existing[-1]["version"] + 1) if existing else 1
    snap_dir = f"{_snap_root(target_dir)}/v{version}"
    if spark is not None:
        fs, path_cls = hadoop_fs(spark, target_dir)
        files = _fs_walk_data_files(fs, path_cls, target_dir)
        sizes = {}
        for rel in files:
            src = f"{target_dir.rstrip('/')}/{rel}"
            _materialize(spark, fs, path_cls, src, f"{snap_dir}/{rel}")
            sizes[rel] = fs.getFileStatus(path_cls(src)).getLen()
    else:
        files = _data_files(target_dir)
        sizes = {}
        for rel in files:
            src = os.path.join(target_dir, rel)
            dst = os.path.join(snap_dir, rel)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            try:
                os.link(src, dst)
            except OSError:
                shutil.copy2(src, dst)  # cross-device fallback
            sizes[rel] = os.path.getsize(src)
    manifest = {
        "version": version,
        "created_at": time.time(),
        "note": note,
        "n_files": len(files),
        "total_bytes": sum(sizes.values()),
        "files": sizes,
    }
    if spark is not None:
        fs, path_cls = hadoop_fs(spark, target_dir)
        fs.mkdirs(path_cls(snap_dir))
        _fs_write_json_atomic(
            fs, path_cls, f"{snap_dir}/.{_MANIFEST}.tmp", f"{snap_dir}/{_MANIFEST}",
            manifest,
        )
    else:
        os.makedirs(snap_dir, exist_ok=True)
        tmp = os.path.join(snap_dir, f".{_MANIFEST}.tmp")
        with open(tmp, "w") as fh:
            json.dump(manifest, fh, indent=1, sort_keys=True)
        os.replace(tmp, os.path.join(snap_dir, _MANIFEST))
    return version


def read_snapshot(spark: SparkSession, target_dir: str, version: int) -> DataFrame:
    """The table AS OF ``version`` — partition discovery works unchanged
    because the snapshot preserves the date=... layout."""
    snap_dir = f"{_snap_root(target_dir)}/v{version}"
    fs, path_cls = hadoop_fs(spark, target_dir)
    if not fs.exists(path_cls(f"{snap_dir}/{_MANIFEST}")):
        raise FileNotFoundError(f"no snapshot v{version} under {target_dir}")
    return spark.read.parquet(snap_dir)


def expire_snapshots(
    target_dir: str, keep_last: int, spark: SparkSession | None = None
) -> list[int]:
    """Drop all but the newest ``keep_last`` snapshots; returns dropped
    versions. Hardlinked blocks are freed only when the last reference
    (live table or newer snapshot) also drops them."""
    snaps = list_snapshots(target_dir, spark=spark)
    dropped = []
    for s in snaps[: max(0, len(snaps) - keep_last)]:
        snap_dir = f"{_snap_root(target_dir)}/v{s['version']}"
        if spark is not None:
            fs, path_cls = hadoop_fs(spark, target_dir)
            if not fs.delete(path_cls(snap_dir), True):
                raise IOError(f"expire_snapshots: delete {snap_dir} returned false")
        else:
            shutil.rmtree(snap_dir)
        dropped.append(s["version"])
    return dropped


def erase_snapshot_versions(
    spark: SparkSession,
    target_dir: str,
    keys: DataFrame,
    request_id: str,
    key_col: str = "user_id",
) -> dict:
    """Right-to-be-forgotten THROUGH the snapshot versions (VERDICT r13
    #1b): ``erasure.erase_keys`` on the live table deliberately never
    touches ``.snapshots/`` — but a data-subject request reaches every
    copy, and ``read_snapshot`` would otherwise time-travel-serve the
    erased rows forever. The pinned policy is ERASE-THROUGH: each
    version's affected date partitions are anti-join-rewritten in place
    (the same partition-pruned two-pass core as the live table — the
    snapshot preserves the ``date=`` layout, so pruning works
    unchanged), deliberately and AUDITABLY breaking version
    immutability: every touched version's manifest is regenerated with
    an ``erasures`` record naming the request, and a per-version
    tombstone ledger lands under ``v<N>/_tombstones``.

    Why erase-through and not refuse-with-expire: ``expire_snapshots``
    drops whole versions — the remedy destroys every OTHER user's
    reproducibility to serve one subject's deletion. Rewriting only the
    affected partitions keeps the versions useful; the manifest record
    keeps the break honest (a training run pinned to v<N> can detect
    that v<N> changed underneath it and why).

    Hardlink safety: the rewrite stages NEW files and unlinks the old
    partition dir — other versions (and the live table) sharing those
    inodes keep their own links; only this version's reference drops.

    Idempotent per the erase_keys contract: a replay finds no affected
    dates in any version, rewrites nothing, keeps the original
    evidence. Returns ``{request_id, rows_erased, versions: {v: n}}``."""
    from data_ingestion_lambda_spark.operators.erasure import erase_keys

    snaps = list_snapshots(target_dir, spark=spark)
    report: dict = {"request_id": request_id, "rows_erased": 0, "versions": {}}
    fs, path_cls = hadoop_fs(spark, target_dir)
    for s in snaps:
        version = s["version"]
        snap_dir = f"{_snap_root(target_dir)}/v{version}"
        rep = erase_keys(
            spark,
            snap_dir,
            keys,
            request_id,
            key_col=key_col,
            tombstone_dir=f"{snap_dir}/_tombstones",
            ignore_loose=(_MANIFEST,),
        )
        report["versions"][str(version)] = rep["rows_erased"]
        report["rows_erased"] += rep["rows_erased"]
        if rep["rows_erased"]:
            # the files changed — regenerate the manifest from the
            # surviving data files, with the erasure recorded
            files = _fs_walk_data_files(fs, path_cls, snap_dir)
            sizes = {
                rel: fs.getFileStatus(path_cls(f"{snap_dir}/{rel}")).getLen()
                for rel in files
            }
            manifest = dict(s)
            manifest.update(
                n_files=len(files), total_bytes=sum(sizes.values()), files=sizes
            )
            manifest.setdefault("erasures", []).append(
                {
                    "request_id": request_id,
                    "rows_erased": rep["rows_erased"],
                    "at": time.time(),
                }
            )
            # Hadoop rename onto an existing destination returns false on
            # local FS — the stale manifest must drop first. The crash
            # window (manifest deleted, new one not yet renamed) leaves
            # the version unlisted but its DATA already erased (the
            # rewrite above ran first), so the failure mode is a lost
            # listing, never a served erased row; the .tmp holds the
            # replacement for manual recovery.
            old = path_cls(f"{snap_dir}/{_MANIFEST}")
            if fs.exists(old) and not fs.delete(old, False):
                raise IOError(
                    f"erase_snapshot_versions: delete of stale {old} "
                    "returned false; data already erased, manifest stale "
                    "— regenerate it by re-running the request"
                )
            _fs_write_json_atomic(
                fs,
                path_cls,
                f"{snap_dir}/.{_MANIFEST}.tmp",
                f"{snap_dir}/{_MANIFEST}",
                manifest,
            )
    return report


def verify_snapshot_erasure(
    spark: SparkSession,
    target_dir: str,
    keys: DataFrame,
    key_col: str = "user_id",
) -> int:
    """Zero-residual verifier across EVERY snapshot version — must be 0
    after ``erase_snapshot_versions``; runnable standalone."""
    from data_ingestion_lambda_spark.operators.erasure import verify_erasure

    return sum(
        verify_erasure(
            spark,
            f"{_snap_root(target_dir)}/v{s['version']}",
            keys,
            key_col=key_col,
            ignore_loose=(_MANIFEST,),
        )
        for s in list_snapshots(target_dir, spark=spark)
    )


def diff_snapshots(
    spark: SparkSession,
    target_dir: str,
    version_a: int,
    version_b: int,
    keys: list[str],
) -> DataFrame:
    """Keyed diff between two table versions: one row per key present in
    either snapshot, labeled ``added`` (only in b), ``removed`` (only in
    a), ``changed`` (both, any non-key column differs) or ``unchanged``.
    The audit answer to "what did the last N ingests do to the table" —
    the consumer of the snapshot lane's time travel, and the check a
    pipeline owner runs before expiring old versions.

    Non-key comparison hashes the full remaining row on EACH side before
    the join, so the join carries keys + one digest per side — never the
    payload; change detection is digest inequality. Each column is
    md5-hashed INDEPENDENTLY (NULL → a fixed-width non-hex sentinel that
    no md5 can produce) and the fixed-width digests concatenated, so a
    NULL is never confused with any literal value and no separator
    character in the data can shift field boundaries. Plan: two snapshot
    scans, one full-outer equi-join on the keys."""
    a = read_snapshot(spark, target_dir, version_a)
    b = read_snapshot(spark, target_dir, version_b)
    _NULL_DIGEST = "-" * 32  # fixed-width, not hex: unreachable by md5

    def digested(df: DataFrame, side: str) -> DataFrame:
        cols = [c for c in df.columns if c not in keys]
        per_col = [
            F.coalesce(F.md5(F.col(c).cast("string")), F.lit(_NULL_DIGEST))
            for c in sorted(cols)
        ]
        digest = F.md5(F.concat(*per_col)) if per_col else F.lit(_NULL_DIGEST)
        return df.select(*keys, digest.alias(f"_digest_{side}"))

    j = digested(a, "a").join(digested(b, "b"), keys, "full_outer")
    status = (
        F.when(F.col("_digest_a").isNull(), "added")
        .when(F.col("_digest_b").isNull(), "removed")
        .when(F.col("_digest_a") != F.col("_digest_b"), "changed")
        .otherwise("unchanged")
    )
    return j.select(*keys, status.alias("status"))
