"""Right-to-be-forgotten erasure for the MAINTAINED STORES (VERDICT r12
"What's missing" #1): ``operators/erasure.py`` rewrites date-partitioned
DATA tables, but a GDPR art.-17 / CCPA deletion request also has to
reach every derived artifact the engine maintains — the feature store's
per-user moments, the session store's per-user runs, the attribution
stores' click/purchase rows, the touch masks and Markov journeys, and an
erased document's derivatives: its dedup-gate signatures, its BM25
postings and doclen rows, its vectors in the IVF index. This module is
that propagation, per store ALGEBRA:

- **Key-partition anti-join rewrite** where rows carry the subject key
  (feature / session / attribution / touch / markov / dedup-gate /
  postings / ANN cells / heavy-hitters): pass 1 finds the AFFECTED
  ledger partitions from a key+partition-column-only scan semi-joined
  against the (broadcast) request — column pruning keeps it the
  cheapest possible scan, and untouched partitions are never opened.
  Pass 2 anti-join-rewrites only those partitions through the staged
  atomic swap (``replace_partitions`` — readers never see a half-erased
  partition); a partition whose every row is erased is deleted
  outright. The reserved BASE partition (a fold's output) is just
  another partition here — erase-after-fold rewrites it, and a
  fold-after-erase cannot resurrect a key whose rows are gone from
  every input partition (both pinned in tests/test_store_erasure.py).

- **Derived-scalar recompute** where a sub-table holds per-partition
  aggregates OF the keyed rows (the BM25 ``stats`` table): after the
  keyed rewrite, the affected partitions' scalar rows are recomputed
  from the SURVIVING keyed rows, so read-side statistics behave exactly
  as if the erased documents had never been ingested — the erased index
  is row-equal to an index built from the filtered corpus (pinned).

- **Rebuild-or-rotate** for the unlearnable sketch stores (Bloom /
  Count-Min / vocab / DSIR / drift): a ``bit_or`` word grid or a summed
  counter grid cannot subtract a member, so ``erase_store`` REFUSES
  those stores with the operational remedy in the message — erase the
  SOURCE table first (``erasure.erase_keys``), then drop the store
  directory and re-apply from the erased source (the date-keyed batch
  layout makes the replay cheap and exactly reproducible). The refusal
  is deliberate: silently "succeeding" on a store that still answers
  membership queries for the subject would be a compliance hole.

Two boundaries, documented rather than hidden:

- **Replay re-delivers.** The stores' idempotence contract is
  "re-applying a batch overwrites its own partition with the ORIGINAL
  content" — so replaying an affected batch after an erase restores the
  erased rows for that partition. Committed streamed batches never
  replay (the checkpoint's commits log fronts them), but an operator
  re-running a manual apply must re-run the erase after it. The
  tombstone ledger records what to re-run.
- **Aggregate model parameters are not rows.** The IVF quantizer's
  centroids are means over the training corpus (which may have included
  the subject's vectors), like the vocab counts they aggregate rather
  than store the subject; erase removes every retrievable vector (no
  probe can return the subject), and policy-complete unlearning of the
  quantizer itself is ``retrain_index`` on the erased corpus. The
  heavy-hitter store's reserved ``__n__`` total rows similarly keep the
  pre-erase stream totals, which only makes its undercount bound MORE
  conservative — never an overcount of a surviving item.

Reference intent: the reference has no deletion path at all (its MERGE
only inserts/updates, src/db_operations.py:52-106); these operators are
what a data-subject request forces onto any maintained derivative of it.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestion_lambda_spark.operators.layout import (
    finish_swaps,
    hadoop_fs,
    ledger_keying,
    partition_values,
    read_partitions,
    replace_partitions,
)


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
    key_col: str
    subs: tuple[SubSpec, ...] = (SubSpec(),)
    # reserved base-partition values that may differ in schema from the
    # live partitions (day-preserving folds add a ``day`` data column),
    # so they are rewritten in their own pass with their own schema
    base_keys: tuple[str, ...] = ("0000-00-00", "0000-base")
    derived: str | None = None  # name of a post-rewrite recompute hook


# The erasable stores. Key columns are the stores' own subject keys:
# user-keyed behavioral stores, doc-keyed text indexes, vec-keyed ANN,
# item-keyed heavy hitters.
STORE_SPECS: dict[str, StoreSpec] = {
    "feature-store": StoreSpec(key_col="user_id"),
    "session-store": StoreSpec(key_col="user_id"),
    "touch-store": StoreSpec(key_col="user_id"),
    "markov-store": StoreSpec(key_col="user_id"),
    "attribution-store": StoreSpec(
        key_col="user_id",
        subs=(SubSpec("purchases"), SubSpec("last_clicks"), SubSpec("clicks")),
    ),
    "attribution-ledger": StoreSpec(
        key_col="user_id",
        subs=(
            SubSpec("stream_purchases", inner_parts=("date",)),
            SubSpec("stream_clicks", inner_parts=("date",)),
        ),
    ),
    "dedup-gate": StoreSpec(key_col="doc_id"),
    "search-index": StoreSpec(
        key_col="doc_id",
        subs=(SubSpec("postings", inner_parts=("bucket",)), SubSpec("doclen")),
        derived="postings_stats",
    ),
    "ann-index": StoreSpec(
        key_col="vec_id", subs=(SubSpec("cells", inner_parts=("cell",)),)
    ),
    "hh-store": StoreSpec(key_col="item"),
    # The corpus-build workflow's work dir (operators/corpus_build.py):
    # both gate indexes, the three per-day ledgers, and the two flag
    # tables — pair rows reference the subject from EITHER side, so they
    # match on both columns. Erase-then-finalize equals a build that
    # never ingested the subject (pinned in tests/test_corpus_build.py):
    # clusters, contamination and the cap all recompute from the
    # surviving rows at finalize time.
    "corpus-build": StoreSpec(
        key_col="doc_id",
        subs=(
            SubSpec("docs"),
            SubSpec("verdicts"),
            SubSpec("grams"),
            SubSpec("exact_index"),
            SubSpec("minhash_index"),
            SubSpec("pairs", key_cols=("new_doc", "dup_of")),
            SubSpec("exact_matches", key_cols=("new_doc", "dup_of")),
        ),
    ),
}

# The unlearnable sketch stores and why each cannot subtract a member.
UNLEARNABLE: dict[str, str] = {
    "bloom-store": "a Bloom filter is a bit_or word grid — set bits are "
    "shared by members and cannot be cleared for one",
    "cms-store": "a Count-Min grid is a cell-wise SUM over hashed items — "
    "one item's contribution is not recoverable from the cells",
    "vocab": "the n-gram model stores (token, count) totals with no "
    "per-document provenance",
    "dsir-store": "the DSIR models are 1024-bucket hashed count grids "
    "with no per-document provenance",
    "drift-monitor": "the histograms are per-day value-bucket counts "
    "with no per-subject provenance",
}


def _rebuild_remedy(store: str) -> str:
    return (
        f"erase_store: {store} is an unlearnable sketch store "
        f"({UNLEARNABLE[store]}). Rebuild-or-rotate instead: (1) erase "
        "the subject from the SOURCE table (erasure.erase_keys), "
        "(2) drop (rotate) the store directory, (3) re-apply the "
        "store's batches from the erased source — the date-keyed batch "
        "layout replays exactly, and the rebuilt sketch is the sketch "
        "of the erased corpus (tests/test_store_erasure.py pins the "
        "Bloom rotation end-to-end). See OPERATIONS.md 'Erasure'."
    )


def _match_join(
    table: DataFrame, keyset: DataFrame, key_col: str,
    match_cols: tuple[str, ...], how: str,
) -> DataFrame:
    """Semi/anti join of ``table`` against the (broadcast) keyset where a
    row matches if ANY of ``match_cols`` holds a requested key — the
    single-column case degenerates to the plain equi join; a pair table
    matches from either side."""
    k = F.broadcast(keyset.select(F.col(key_col).alias("__k")).distinct())
    t = table.alias("__t")
    cond = None
    for c in match_cols:
        e = F.col(f"__t.{c}") == F.col("__e.__k")
        cond = e if cond is None else (cond | e)
    return t.join(k.alias("__e"), cond, how)


def _affected_rows(
    spark: SparkSession,
    sub_dir: str,
    keyset: DataFrame,
    key_col: str,
    part_key: str,
    match_cols: tuple[str, ...],
) -> dict[str, int]:
    """Pass 1 over one sub-table: ``{partition value: subject rows}`` for
    every partition holding a subject row, from one key+partition-column
    scan semi-joined against the (broadcast) request."""
    live = partition_values(spark, sub_dir, part_key)
    if not live:
        return {}
    table = read_partitions(spark, sub_dir, part_key, live)
    missing_cols = [c for c in match_cols if c not in table.columns]
    if missing_cols:
        raise ValueError(
            f"erase: sub-table {sub_dir} has no column(s) {missing_cols} "
            f"(columns: {table.columns})"
        )
    return {
        str(r[part_key]): r["n"]
        for r in _match_join(
            table.select(*match_cols, part_key), keyset, key_col, match_cols, "semi"
        )
        .groupBy(part_key)
        .agg(F.count("*").alias("n"))
        .collect()
    }


def _rewrite_sub(
    spark: SparkSession,
    sub_dir: str,
    keyset: DataFrame,
    key_col: str,
    part_key: str,
    inner_parts: tuple[str, ...],
    base_keys: tuple[str, ...],
    match_cols: tuple[str, ...],
    affected: list[str],
) -> tuple[int, int]:
    """Pass 2 over one sub-table: anti-join-rewrite the ``affected``
    partitions through the staged swap. Base partitions (fold outputs,
    possibly schema-widened by the fold) rewrite in their own pass so a
    base-only column never bleeds a NULL twin into the live partitions'
    files. Returns (partitions rewritten, partitions deleted)."""
    rewritten = deleted = 0
    for group in (
        [v for v in affected if v not in base_keys],
        [v for v in affected if v in base_keys],
    ):
        if not group:
            continue
        slice_ = read_partitions(spark, sub_dir, part_key, group).withColumn(
            part_key, F.col(part_key).cast("string")
        )
        # replace_partitions stages everything first, then swaps; a
        # group value for which the survivors stage nothing is DELETED
        # (fully-erased partition), mirroring erasure.erase_keys
        replace_partitions(
            spark,
            sub_dir,
            _match_join(slice_, keyset, key_col, match_cols, "anti"),
            group,
            extra_partition_cols=inner_parts,
            part_col=part_key,
        )
        survived = set(partition_values(spark, sub_dir, part_key))
        rewritten += sum(1 for v in group if v in survived)
        deleted += sum(1 for v in group if v not in survived)
    return rewritten, deleted


def _recompute_postings_stats(
    spark: SparkSession, index_dir: str, part_key: str, affected: list[str]
) -> None:
    """The BM25 ``stats`` sub-table holds ONE (n_docs, t_tokens) scalar
    row per ledger partition — an aggregate OF the doclen rows, so after
    erasing documents the affected partitions' scalars are recomputed
    from the SURVIVING doclen rows of those same partitions. N and T
    then read exactly as if the erased docs were never ingested (the
    property update_postings' additive-stats contract rests on)."""
    survived = set(partition_values(spark, f"{index_dir}/doclen", part_key))
    todo = [v for v in affected if v in survived]
    stats = None
    if todo:
        stats = (
            read_partitions(spark, f"{index_dir}/doclen", part_key, todo)
            .withColumn(part_key, F.col(part_key).cast("string"))
            .groupBy(part_key)
            .agg(
                F.count("*").alias("n_docs"),
                F.sum("dl").cast("long").alias("t_tokens"),
            )
        )
    # fully-erased doclen partitions get their stats partition deleted
    # (nothing staged for them -> replace deletes); partly-erased ones
    # get the recomputed scalar row
    replace_partitions(
        spark, f"{index_dir}/stats", stats, affected, part_col=part_key
    )


def erase_store(
    spark: SparkSession,
    store: str,
    index_dir: str,
    keys: DataFrame,
    request_id: str,
    key_col: str | None = None,
) -> dict:
    """Erase every row of the subject keys from the maintained store at
    ``index_dir``. ``store`` names the store family (the CLI subcommand
    name — see STORE_SPECS); unlearnable sketch stores refuse with the
    rebuild-or-rotate remedy. Idempotent: a replay finds no affected
    partitions and rewrites nothing. Lands a tombstone partition under
    ``<index_dir>/_tombstones`` keyed by ``request_id``, before the first
    swap."""
    if not request_id:
        raise ValueError("erase_store: request_id is required (audit key)")
    if store in UNLEARNABLE:
        raise ValueError(_rebuild_remedy(store))
    if store not in STORE_SPECS:
        raise ValueError(
            f"erase_store: unknown store {store!r} "
            f"(erasable: {sorted(STORE_SPECS)}; "
            f"rebuild-or-rotate: {sorted(UNLEARNABLE)})"
        )
    spec = STORE_SPECS[store]
    key_col = key_col or spec.key_col
    keyset = keys.select(F.col(key_col)).distinct()
    report: dict = {
        "request_id": request_id,
        "store": store,
        "rows_erased": 0,
        "partitions_rewritten": 0,
        "partitions_deleted": 0,
        "subs": {},
    }
    doclen_part_key = "date"
    # Pass 1 over every sub-table before the first swap, so the tombstone
    # lands with the whole request's count before anything is erased.
    plans = []
    for s in spec.subs:
        sub_dir = f"{index_dir}/{s.sub}" if s.sub else index_dir
        finish_swaps(spark, sub_dir)
        part_key = ledger_keying(spark, sub_dir, "date")
        if s.sub == "doclen":
            doclen_part_key = part_key
        match_cols = s.key_cols or (key_col,)
        rows = _affected_rows(spark, sub_dir, keyset, key_col, part_key, match_cols)
        sub_report = {
            "rows_erased": sum(rows.values()),
            "partitions_rewritten": 0,
            "partitions_deleted": 0,
            "affected": sorted(rows),
        }
        report["subs"][s.sub or "."] = sub_report
        report["rows_erased"] += sub_report["rows_erased"]
        plans.append((s, sub_dir, part_key, match_cols, sub_report))
    _land_store_tombstones(keyset, key_col, index_dir, request_id, report)
    for s, sub_dir, part_key, match_cols, sub_report in plans:
        if not sub_report["affected"]:
            continue
        rewritten, deleted = _rewrite_sub(
            spark, sub_dir, keyset, key_col, part_key, s.inner_parts,
            spec.base_keys, match_cols, sub_report["affected"],
        )
        sub_report["partitions_rewritten"] = rewritten
        sub_report["partitions_deleted"] = deleted
        report["partitions_rewritten"] += rewritten
        report["partitions_deleted"] += deleted
    if spec.derived == "postings_stats":
        # finished even when nothing is touched: a re-run after a crash
        # inside the stats swap erases nothing, and never reaches it
        finish_swaps(spark, f"{index_dir}/stats")
        touched = report["subs"].get("doclen", {}).get("affected") or []
        if touched:
            _recompute_postings_stats(
                spark, index_dir, doclen_part_key, touched
            )
    return report


def _land_store_tombstones(
    keyset: DataFrame,
    key_col: str,
    index_dir: str,
    request_id: str,
    report: dict,
) -> None:
    """Audit record under the store root, landed before the first swap
    with the whole request's ``rows_erased``. An existing record is kept:
    a re-run of the request, after a crash between two sub-table swaps
    or after success, counts only what is left, so its count would
    understate the request (``erasure._land_tombstones`` keeps the record
    of a run that erased nothing, for the same reason)."""
    spark = keyset.sparkSession
    tomb = f"{index_dir}/_tombstones"
    target = f"{tomb}/request_id={request_id}"
    fs, path_cls = hadoop_fs(spark, tomb)
    if fs.exists(path_cls(f"{target}/_SUCCESS")):
        return
    (
        keyset.select(
            F.col(key_col).cast("string").alias("subject_key"),
            F.lit(key_col).alias("key_col"),
            F.lit(report["store"]).alias("store"),
            F.lit(report["rows_erased"]).cast("long").alias("rows_erased"),
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(target)
    )


def verify_store_erasure(
    spark: SparkSession,
    store: str,
    index_dir: str,
    keys: DataFrame,
    key_col: str | None = None,
) -> int:
    """Zero-residual verifier: surviving rows for the subject keys
    across EVERY keyed sub-table of the store — must be 0 after
    ``erase_store``; runnable standalone as a compliance audit. Unknown
    or unlearnable stores refuse with the same remedies as erase_store
    (a sketch store cannot be row-audited — membership lives in shared
    bits, not rows; rebuild-or-rotate is the compliance path)."""
    if store in UNLEARNABLE:
        raise ValueError(_rebuild_remedy(store))
    if store not in STORE_SPECS:
        raise ValueError(
            f"verify_store_erasure: unknown store {store!r} "
            f"(erasable: {sorted(STORE_SPECS)}; "
            f"rebuild-or-rotate: {sorted(UNLEARNABLE)})"
        )
    spec = STORE_SPECS[store]
    key_col = key_col or spec.key_col
    keyset = keys.select(F.col(key_col)).distinct()
    residual = 0
    for s in spec.subs:
        sub_dir = f"{index_dir}/{s.sub}" if s.sub else index_dir
        part_key = ledger_keying(spark, sub_dir, "date")
        live = partition_values(spark, sub_dir, part_key)
        if not live:
            continue
        residual += _match_join(
            read_partitions(spark, sub_dir, part_key, live),
            keyset,
            key_col,
            s.key_cols or (key_col,),
            "semi",
        ).count()
    return residual


def erase_bucketed_gate(
    spark: SparkSession,
    table_name: str,
    keys: DataFrame,
    key_col: str = "doc_id",
) -> dict:
    """Erasure for the dedup gate's BUCKETED CATALOG variant
    (``apply_batch_bucketed``): a bucketed table's files must keep
    their bucket layout, so the erase is a table ROTATION — write the
    anti-joined survivors as a new table with the IDENTICAL
    (partitionBy date, bucketBy bkey) layout, then swap names in the
    catalog. The one-exchange probe property is preserved because the
    replacement is bucketed the same way. Crash window: after the DROP,
    the staging table still holds every surviving row — finish with
    ``ALTER TABLE <name>__erase_staging RENAME TO <name>``."""
    from data_ingestion_lambda_spark.operators.dedup_gate import BUCKET_COUNT

    staging = f"{table_name}__erase_staging"
    if spark.catalog.tableExists(staging):
        raise RuntimeError(
            f"erase_bucketed_gate: staging table {staging} already exists "
            "from a crashed erase — it holds the surviving rows; finish "
            f"by DROP TABLE IF EXISTS {table_name} then ALTER TABLE "
            f"{staging} RENAME TO {table_name}"
        )
    keyset = keys.select(F.col(key_col)).distinct()
    table = spark.table(table_name)
    rows_before = table.count()
    kept = table.join(F.broadcast(keyset), key_col, "anti")
    (
        kept.write.partitionBy("date")
        .bucketBy(BUCKET_COUNT, "bkey")
        .sortBy("bkey")
        .format("parquet")
        .saveAsTable(staging)
    )
    rows_after = spark.table(staging).count()
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    spark.sql(f"ALTER TABLE {staging} RENAME TO {table_name}")
    return {
        "table": table_name,
        "rows_erased": rows_before - rows_after,
        "rows_kept": rows_after,
    }
