"""Command-line entry point — the operational twin of the reference's
``main.py`` / ``lambda_handler.handler`` (one invocation = drain all new
files, merge, report).

Reference shape (src/lambda_handler.py:38-102): a scheduled invocation
runs the whole pipeline and returns ``{statusCode, message,
processed_dates}``. Here the same contract prints one JSON line; progress
tracking is the stream's checkpoint, so re-invoking is always safe.

Subcommand families:
- ``ingest``: the scheduled invocation above;
- table maintenance: ``compact``, ``expire``, ``erase``, ``snapshot``;
- the 14 maintained stores: ``dedup-gate``, ``vocab``, ``ann-index``,
  ``search-index``, ``drift-monitor``, ``feature-store``, ``hh-store``,
  ``cms-store``, ``bloom-store``, ``dsir-store``, ``touch-store``,
  ``markov-store``, ``session-store``, ``attribution-store``;
- ``corpus-build`` (gates and ledgers end to end) and ``query`` (one
  registered lane).

Every maintained store shares one flag set (``_store_parser``):
``--index DIR``, ``--batch PARQUET --date KEY`` for one apply,
``--compact-keep-from KEY`` for a manual fold and
``--auto-compact-max-dirs N``; all but drift-monitor, hh-store and
markov-store add ``--stream-source DIR --checkpoint DIR
[--max-files-per-trigger N]``. The exceptions: vocab names its
directory ``--vocab``, dedup-gate's ``--index`` is optional (it can use
``--bucketed-table``), feature-store folds with ``--compact-before`` and
attribution-store with ``--compact-keep-from-key``. The shared
refusals (``_check_store_args``) run before any Spark session starts.

Usage:
  python -m data_ingestion_lambda_spark ingest \
      --source /data/drops --target /data/consumptions \
      --checkpoint /data/ckpt [--quarantine DIR] [--log DIR] \
      [--max-files-per-trigger N]
  python -m data_ingestion_lambda_spark compact --target /data/consumptions \
      [--dates 2025-05-01,2025-05-02] [--target-file-mb 128]
  python -m data_ingestion_lambda_spark STORE --index DIR \
      [--batch PARQUET --date KEY] [--compact-keep-from KEY] \
      [--auto-compact-max-dirs N] [STORE-SPECIFIC FLAGS]
"""

from __future__ import annotations

import argparse
import json
import sys
from functools import partial

from data_ingestion_lambda_spark.operators.compact import (
    cluster_partitions,
    compact_partitions,
    expire_partitions,
)
from data_ingestion_lambda_spark.operators.store_record import (
    STORE_MODULES,
    read_batch,
    store_record,
)
from data_ingestion_lambda_spark.session import get_spark
from data_ingestion_lambda_spark.streaming.ingest import (
    IngestPaths,
    run_ingest_available_now,
)


def _add_stream_args(sub_parser, noun: str) -> None:
    """The shared streaming-front flags (streaming/index_streams.py):
    drain every file the offset log has not seen, applying each
    micro-batch under its own batch-id partition (replay-idempotent)."""
    sub_parser.add_argument(
        "--stream-source",
        default=None,
        help=f"instead of --batch: drain every {noun} file under this "
        "directory that the --checkpoint offset log has not seen "
        "(batch-id-keyed partitions; replay-idempotent)",
    )
    sub_parser.add_argument(
        "--checkpoint",
        default=None,
        help="streaming offset log directory (required with --stream-source)",
    )
    sub_parser.add_argument(
        "--max-files-per-trigger",
        type=int,
        default=None,
        help="bound each streamed micro-batch to this many files",
    )


_FOLD_HELP = (
    "fold ledger partitions with keys strictly below this one into the "
    "base partition (crash-guarded shared base_fold; spends the folded "
    "keys — reads are unchanged)"
)


def _store_parser(
    sub,
    name: str,
    summary: str,
    *,
    index: str | None,
    batch: str,
    date: str = "batch date (the ledger partition key)",
    keep_from: str | None = _FOLD_HELP,
    stream: str | None = None,
) -> argparse.ArgumentParser:
    """A maintained-store subcommand with the flags every store shares.
    Each keyword is that flag's help text; ``index`` and ``keep_from``
    are None for a store that defines its directory or its manual fold
    its own way, and ``stream`` (what the drained files hold) adds the
    streaming flags of ``_add_stream_args``."""
    sp = sub.add_parser(name, help=summary)
    if index is not None:
        sp.add_argument("--index", required=True, help=index)
    sp.add_argument("--batch", default=None, help=batch)
    sp.add_argument("--date", default=None, help=date)
    if keep_from is not None:
        sp.add_argument("--compact-keep-from", default=None, help=keep_from)
    sp.add_argument(
        "--auto-compact-max-dirs",
        type=int,
        default=None,
        metavar="N",
        help="dir-count-threshold auto-compaction: when live ledger "
        "partitions exceed N, fold the oldest into the base so about "
        "N/2 remain (same crash discipline and refusals as the manual "
        "fold)",
    )
    if stream is not None:
        _add_stream_args(sp, stream)
    return sp


def _check_store_args(
    args,
    actions: tuple[str, ...] = (),
    *,
    paired: bool = True,
    exclusive: bool = True,
) -> None:
    """The shared refusals of the maintained-store subcommands, raised
    before any Spark session starts: ``--batch`` and ``--date`` go
    together (``paired``); ``--stream-source`` requires ``--checkpoint``;
    ``--stream-source`` and ``--batch`` are exclusive (``exclusive``:
    one keys the ledger by batch id, the other by date); and when
    ``actions`` (argument dests) is given, at least one of them is set.
    A store whose rule differs turns the shared one off and raises its
    own."""
    stream = getattr(args, "stream_source", None)
    if paired and (args.batch is None) != (args.date is None):
        refusal = "--batch and --date go together"
    elif stream is not None and args.checkpoint is None:
        refusal = "--stream-source requires --checkpoint"
    elif exclusive and stream is not None and args.batch is not None:
        refusal = "--stream-source and --batch are exclusive"
    elif actions and all(
        getattr(args, a) is None or getattr(args, a) is False for a in actions
    ):
        flags = ["--" + a.replace("_", "-") for a in actions]
        refusal = f"need {', '.join(flags[:-1])} and/or {flags[-1]}"
    else:
        return
    raise SystemExit(f"{args.cmd}: {refusal}")


def _stream_checkpoint(args) -> str | None:
    """The checkpoint of a streamed invocation, None otherwise."""
    if getattr(args, "stream_source", None) is None:
        return None
    return args.checkpoint


def _auto_compact_step(spark, args, store, index_dir: str) -> dict | None:
    """The ``--auto-compact-max-dirs`` step (every store HAS a fold; this
    decides WHEN), None when the flag is unset; the store's ``auto_fold``
    hook takes it over when it returns a report. A streamed invocation
    caps the fold key at the checkpoint's committed front, so an
    uncommitted batch is never folded; the manual fold leaves that to the
    operator."""
    policy = store.auto_fold(spark, args, index_dir) if store.auto_fold else None
    if policy is None:
        policy = store.auto_compact(
            spark, index_dir, args.auto_compact_max_dirs, _stream_checkpoint(args)
        )
    return policy


def _run_store(args) -> int:
    """The one handler of the 14 store subcommands, in one order over the
    store's record (operators/store_record.py): the argument refusals
    (before any session), the session, the ``prepare`` hook, the stream,
    ``--batch``, the manual fold (a refusal exits as ``<cmd>: <reason>``),
    the read actions, auto-compaction and the JSON report."""
    store = store_record(args.cmd)
    _check_store_args(args, store.needs, paired=store.paired, exclusive=store.exclusive)
    refusal = store.check(args) if store.check else None
    if refusal is not None:
        raise SystemExit(f"{args.cmd}: {refusal}")
    metastore = getattr(args, "metastore_dir", None)
    spark = get_spark("data-ingestion-cli", metastore_dir=metastore)
    index_dir, opts, report = getattr(args, store.dir_flag), store.opts(args), {}
    if store.prepare and store.prepare(spark, args, report):
        print(json.dumps({"statusCode": 200, **report}))
        return 0
    if getattr(args, "stream_source", None) is not None:
        from data_ingestion_lambda_spark.streaming.index_streams import (
            run_store_available_now,
        )

        stream = store.stream or partial(run_store_available_now, store)
        report[store.stream_report] = stream(
            spark, args.stream_source, index_dir, args.checkpoint,
            max_files_per_trigger=args.max_files_per_trigger, **opts,
        )
    if args.batch is not None and store.batch:
        report.update(store.batch(spark, index_dir, args, **opts))
    elif args.batch is not None:
        batch = read_batch(spark, args.batch, store)
        report.update(store.apply(spark, index_dir, batch, args.date, **opts))
    keep_from = getattr(args, store.fold_flag)
    if keep_from is not None:
        try:
            folded = store.compact(spark, index_dir, keep_from)
        except (ValueError, RuntimeError) as exc:
            raise SystemExit(f"{args.cmd}: {exc}") from exc
        report.update({store.fold_report: folded} if store.fold_report else folded)
    for action in store.actions:
        if action.flag is None or getattr(args, action.flag) not in (None, False):
            report.update(action.run(spark, index_dir, args))
    policy = _auto_compact_step(spark, args, store, index_dir)
    if policy is not None:
        report["auto_compact"] = policy
    print(json.dumps({"statusCode": 200, **report}))
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="data_ingestion_lambda_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    ing = sub.add_parser("ingest", help="drain new files, merge, report")
    ing.add_argument("--source", required=True)
    ing.add_argument("--target", required=True)
    ing.add_argument("--checkpoint", required=True)
    ing.add_argument("--quarantine", default=None)
    ing.add_argument("--log", default=None)
    ing.add_argument(
        "--changes",
        default=None,
        help="also persist each micro-batch's change feed (insert/update "
        "rows with full post-merge payload) under this directory, one "
        "batch-id partition per trigger — what downstream incrementals "
        "subscribe to instead of diffing the table",
    )
    ing.add_argument("--max-files-per-trigger", type=int, default=None)
    ing.add_argument("--glob", default="*.csv")

    cmp_ = sub.add_parser("compact", help="rewrite small files per partition")
    cmp_.add_argument("--target", required=True)
    cmp_.add_argument("--dates", default=None, help="comma-separated; default all")
    cmp_.add_argument("--target-file-mb", type=int, default=128)
    cmp_.add_argument(
        "--sort-by",
        default=None,
        help="comma-separated columns: cluster (range-partition + sort) instead of plain compact",
    )
    cmp_.add_argument(
        "--zorder",
        action="store_true",
        help="with --sort-by COL1,COL2[,...]: cluster along the Morton "
        "curve of the columns instead of lexicographically, so parquet "
        "min/max stats prune on EVERY listed column",
    )

    exp = sub.add_parser("expire", help="drop date partitions older than --keep-from")
    exp.add_argument("--target", required=True)
    exp.add_argument("--keep-from", required=True, help="ISO date; partitions < this are deleted")

    ers = sub.add_parser(
        "erase",
        help="right-to-be-forgotten: remove every row of the subject keys, "
        "rewriting only the partitions that contain them (tombstone audit, "
        "zero-residual verify)",
    )
    ers.add_argument(
        "--target", required=True, help="date-partitioned table or store root"
    )
    ers.add_argument(
        "--keys", required=True, help="parquet with the subject-key column"
    )
    ers.add_argument(
        "--key-col",
        default=None,
        help="subject-key column (default: user_id, or the store's own "
        "key when --store is given)",
    )
    ers.add_argument(
        "--store",
        default=None,
        help="erase a MAINTAINED STORE or table-adjacent artifact instead "
        "of a data table: feature-store, session-store, touch-store, "
        "markov-store, attribution-store, attribution-ledger, dedup-gate, "
        "search-index, ann-index, hh-store, corpus-build (anti-join "
        "rewrite of affected partitions); scd2 (whole-table staged swap), "
        "snapshots (erase-through every .snapshots version, manifests "
        "updated), cdc-feed (--target is the _changes dir), quarantine "
        "(_batch_id-keyed rewrite). The sketch stores "
        "(bloom/cms/vocab/dsir/drift) refuse with the rebuild-or-rotate "
        "runbook (see OPERATIONS.md)",
    )
    ers.add_argument(
        "--request-id",
        default=None,
        help="audit key (replays overwrite it); required unless --verify-only",
    )
    ers.add_argument(
        "--verify-only",
        action="store_true",
        help="report the residual row count without erasing",
    )
    ers.add_argument(
        "--jdbc-url",
        default=None,
        help="erase on an RDBMS target instead of parquet: stage the keys, "
        "one set-based DELETE, zero-residual COUNT verify (--target names "
        "the TABLE here; default key column client_id)",
    )
    ers.add_argument(
        "--jdbc-staging",
        default="erase_keys_staging",
        help="staging table for the subject keys (--jdbc-url only)",
    )
    ers.add_argument(
        "--jdbc-quote",
        default=None,
        help="identifier quote for uppercase-folding dialects "
        "(Derby/Oracle/DB2: pass '\"'; --jdbc-url only)",
    )
    ers.add_argument(
        "--jdbc-staging-types",
        default=None,
        help="createTableColumnTypes for the staging write (Derby maps "
        "string->CLOB which is not comparable: pass e.g. "
        "'client_id VARCHAR(32)'; --jdbc-url only)",
    )

    snp = sub.add_parser(
        "snapshot",
        help="freeze/list/expire table versions",
        description=(
            "Freeze the target table under <target>/.snapshots/v<N>. "
            "Materialization economics depend on the filesystem: on a "
            "LOCAL path, files are hardlinked — freezing a multi-TB table "
            "costs directory entries, not bytes. On a URI-scheme target "
            "(hdfs://, s3a://, abfss://) all I/O goes through the Hadoop "
            "FS API and each file is BYTE-COPIED (no hardlink primitive "
            "exists there) — freezing costs one read+write of the table, "
            "so snapshot BEFORE the day's swaps, not after. A "
            "manifest-only snapshot (the JSON manifest IS the version) "
            "would be byte-free on a versioned object store, but requires "
            "the partition swap to leave old objects in place, which this "
            "repo's replace_partitions does not — see operators/"
            "snapshot.py."
        ),
    )
    snp.add_argument("--target", required=True)
    snp.add_argument("--list", action="store_true", help="list versions instead of creating")
    snp.add_argument("--expire-keep", type=int, default=None, help="drop all but N newest")
    snp.add_argument("--note", default="", help="annotation stored in the manifest")
    snp.add_argument(
        "--diff",
        default=None,
        metavar="A,B",
        help="diff two versions: per-key added/removed/changed counts",
    )
    snp.add_argument(
        "--keys",
        default="date,client_code",
        help="comma-separated key columns for --diff",
    )

    events = "parquet of the day's events"
    day_pure = "batch date (the partition key; batch must be day-pure)"

    gate = _store_parser(
        sub,
        "dedup-gate",
        "probe a document batch against the persisted signature index "
        "(minhash near-dup, exact digest, or embedding cosine), then append it",
        index=None,
        batch="parquet of (doc_id, text) documents — or (doc_id|vec_id, "
        "embedding) vectors for --mode embedding",
        date="batch date (the index partition key); required with --batch "
        "(streamed batches are keyed by micro-batch id instead)",
        keep_from="fold index date partitions strictly before this key into "
        "the base partition (crash-guarded; spends the folded dates' replay "
        "keys — probe flags are unchanged)",
        stream="document",
    )
    gate.add_argument(
        "--index",
        default=None,
        help="signature index table directory (required unless "
        "--bucketed-table)",
    )
    gate.add_argument(
        "--bucketed-table",
        default=None,
        help="instead of --index: gate against the BUCKETED band table of "
        "this catalog name (minhash mode only) — the probe's candidate "
        "join needs no exchange on the index side (bucketed FileScan). "
        "Bucketing metadata lives in the session catalog, so pass "
        "--metastore-dir to keep the layout across process restarts",
    )
    gate.add_argument(
        "--metastore-dir",
        default=None,
        help="persistent catalog location (embedded Derby metastore + "
        "warehouse under this directory): saveAsTable metadata — the "
        "bucketed band-table layout in particular — survives process "
        "restart, so tomorrow's invocation still plans the probe as one "
        "exchange. Single-node equivalent of Hive/Glue/Unity; one "
        "metastore per process (fixed at first session build)",
    )
    gate.add_argument(
        "--matches-out",
        default=None,
        help="also persist the flag table here, partitioned by batch date",
    )
    gate.add_argument(
        "--probe-only",
        action="store_true",
        help="report near-dup pairs without appending the batch to the index",
    )
    gate.add_argument(
        "--mode",
        choices=("minhash", "exact", "embedding"),
        default="minhash",
        help="index lane: MinHash near-dup bands (default), exact md5 "
        "content digests, or embedding sign-LSH + cosine rescore; an "
        "index directory belongs to ONE mode",
    )

    voc = _store_parser(
        sub,
        "vocab",
        "maintained corpus unigram model: extend it with a document "
        "batch and/or score a batch's LM-quality against the persisted "
        "model (the production form of text_unigram_surprisal)",
        index=None,
        batch="parquet of (doc_id, text) documents",
        date="batch date (the vocab partition key); required unless --score-only",
        stream="document",
    )
    voc.add_argument("--vocab", required=True, help="vocab table directory")
    voc.add_argument(
        "--score-out",
        default=None,
        help="persist the per-doc surprisal table here (overwrite)",
    )
    voc.add_argument(
        "--score-only",
        action="store_true",
        help="score against the persisted model without extending it",
    )
    voc.add_argument(
        "--order",
        type=int,
        default=1,
        help="n-gram order of the model (1 = unigram, 2 = the bigram LM "
        "of text_bigram_surprisal); recorded in the directory — "
        "mismatched access refuses",
    )

    ann = _store_parser(
        sub,
        "ann-index",
        "maintained IVF-ANN index: train the frozen coarse quantizer, "
        "append daily vector batches to the cell-partitioned inverted "
        "file, and/or run top-k cosine queries against it",
        index="index directory",
        batch="parquet of (vec_id, embedding) vectors to append",
        date="batch date (the index partition key)",
        keep_from="fold cells/ date partitions strictly before this key into "
        "the base partition, re-partitioned by cell (crash-guarded; spends "
        "the folded dates' replay keys — probe results are unchanged and "
        "cell pruning survives)",
        stream="vector",
    )
    ann.add_argument(
        "--train",
        default=None,
        help="parquet of (vec_id, embedding) to train the quantizer on "
        "(writes {index}/centroids; a new model means a new index dir)",
    )
    ann.add_argument(
        "--n-cells",
        type=int,
        default=None,
        help="quantizer cell count for --train (default 16) — recorded "
        "in the index's _sizing marker; mismatched access refuses",
    )
    ann.add_argument(
        "--retrain-to",
        default=None,
        help="blue/green quantizer growth: train an --n-cells quantizer "
        "on THIS index's stored vectors into the given NEW directory, "
        "re-assign everything there (--date keys the landing), and "
        "print side-by-side recall@k for both indexes",
    )
    ann.add_argument(
        "--query",
        default=None,
        help="parquet of (vec_id|query_id, embedding) query vectors",
    )
    ann.add_argument("--k", type=int, default=None, help="neighbors per query")
    ann.add_argument(
        "--out", default=None, help="persist the top-k result here (overwrite)"
    )
    ann.add_argument(
        "--hard-negatives",
        action="store_true",
        help="mine hard negatives instead of top-k: per query, the top-k "
        "stored vectors strictly BELOW --ceiling (probable positives are "
        "excluded — sampling them as negatives poisons contrastive "
        "training)",
    )
    ann.add_argument(
        "--ceiling",
        type=float,
        default=None,
        help="positive cosine ceiling for --hard-negatives (default 0.90, "
        "the shipped recall curve's near-dup tier)",
    )

    sidx = _store_parser(
        sub,
        "search-index",
        "maintained BM25 postings index: append daily document "
        "batches to the bucket-partitioned inverted file and/or run "
        "top-k lexical queries against it",
        index="index directory",
        batch="parquet of (doc_id, text) documents to append",
        date="batch date (the index partition key)",
        keep_from="fold date partitions strictly before this ISO date into "
        "the base partition (crash-guarded; spends the folded dates' replay "
        "keys — scores are unchanged)",
        stream="document",
    )
    sidx.add_argument(
        "--query",
        default=None,
        help="parquet of (doc_id|query_id, text) query documents",
    )
    sidx.add_argument("--k", type=int, default=None, help="matches per query")
    sidx.add_argument(
        "--out", default=None, help="persist the top-k result here (overwrite)"
    )

    drf = _store_parser(
        sub,
        "drift-monitor",
        "maintained value-distribution drift gate: land a day's "
        "histogram partition and/or report day-over-day L1 drift from "
        "the persisted index (the production form of "
        "events_distribution_drift)",
        index="histogram table directory",
        batch=events,
        date="batch date (the histogram partition key)",
    )
    drf.add_argument(
        "--report-out",
        default=None,
        help="persist the drift table here (overwrite); printed to stdout otherwise",
    )

    fst = _store_parser(
        sub,
        "feature-store",
        "maintained per-user feature store: land a batch's additive "
        "moment deltas, derive the trainer-facing vectors read-side, "
        "and/or fold old partitions into the base (the production form "
        "of feature_user_vectors)",
        index="moment ledger directory (belongs to ONE driver: date-keyed "
        "daily batches or the stream's batch-id keys — never both)",
        batch="parquet of the batch's events",
        keep_from=None,
        stream="events",
    )
    fst.add_argument(
        "--vectors-out",
        default=None,
        help="persist the derived per-user feature vectors here (overwrite)",
    )
    fst.add_argument(
        "--as-of",
        default=None,
        metavar="DATE",
        help="with --vectors-out: time-travel — derive the vectors as they "
        "stood at end-of-day DATE (refuses dates below the compaction "
        "horizon)",
    )
    fst.add_argument(
        "--compact-before",
        default=None,
        metavar="DATE",
        help="fold ledger partitions strictly before DATE into the base "
        "partition (SPENDS those dates' replay keys — fold only past the "
        "re-delivery policy)",
    )
    fst.add_argument(
        "--decayed-out",
        default=None,
        metavar="DIR",
        help="persist per-user recency-decayed activity here (overwrite); "
        "requires --as-of and a day-pure date-keyed store (weights come "
        "from the ledger's date keys)",
    )

    hhs = _store_parser(
        sub,
        "hh-store",
        "maintained heavy-hitter store: land a batch's Misra-Gries "
        "summary and/or read the merged sketch with its guarantee bound "
        "(the production form of profile_heavy_hitters_mg)",
        index="sketch ledger directory",
        batch="parquet with an `item` string column (the batch's stream slice)",
    )
    hhs.add_argument(
        "--report-out",
        default=None,
        help="persist the merged heavy-hitter report here (overwrite); "
        "printed to stdout otherwise",
    )

    cms = _store_parser(
        sub,
        "cms-store",
        "maintained Count-Min sketch store: land a batch's d x w "
        "grid and/or point-query item frequency estimates that never "
        "undercount (the production form of profile_heavy_hitters_cms; "
        "the no-undercount dual of hh-store)",
        index="grid ledger directory",
        batch="parquet with an `item` string column (the batch's stream slice)",
        stream="item",
    )
    cms.add_argument(
        "--query",
        default=None,
        help="parquet with an `item` column: estimate each distinct item's "
        "total across every applied batch",
    )
    cms.add_argument(
        "--estimates-out",
        default=None,
        help="persist the (item, est) estimates here (overwrite); top "
        "rows printed otherwise",
    )

    blm = _store_parser(
        sub,
        "bloom-store",
        "maintained Bloom-filter store: land a member batch's "
        "filter words (bit_or ledger — exact under any split) and/or "
        "screen probe docs with no false negatives (the production "
        "form of dedup_bloom_screen)",
        index="filter-word ledger directory",
        batch="parquet with a `text` column (the member batch to hash in)",
        stream="member-document",
    )
    blm.add_argument(
        "--screen",
        default=None,
        help="parquet with (doc_id, text): screen each doc against the "
        "folded filter",
    )
    blm.add_argument(
        "--bloom-m",
        type=int,
        default=None,
        help="filter bits (multiple of 32; default 4096) — recorded in "
        "the store's _sizing marker; mismatched applies are refused",
    )
    blm.add_argument(
        "--bloom-k",
        type=int,
        default=None,
        help="probe count (1..8 from the fixed affine pool; default 3)",
    )
    blm.add_argument(
        "--verdicts-out",
        default=None,
        help="persist the (doc_id, bloom_hit) verdicts here (overwrite); "
        "summary printed otherwise",
    )

    dsr = _store_parser(
        sub,
        "dsir-store",
        "maintained DSIR model store: land a document batch's "
        "bucket counts (additive ledger) and/or score docs under the "
        "folded source/target models (the production form of "
        "text_dsir_weights)",
        index="bucket-stats ledger directory",
        batch="parquet with (doc_id, lang, text): the batch whose counts land",
        stream="document",
    )
    dsr.add_argument(
        "--score",
        default=None,
        help="parquet with (doc_id, lang, text): score each doc under the "
        "current folded model",
    )
    dsr.add_argument(
        "--scores-out",
        default=None,
        help="persist the per-doc scores here (overwrite); summary printed "
        "otherwise",
    )
    dsr.add_argument(
        "--target-lang",
        default="en",
        help="target-distribution language slice (default en)",
    )

    tch = _store_parser(
        sub,
        "touch-store",
        "maintained user touch-state store (OR-semigroup ledger): "
        "land per-user coalition masks and/or read Shapley data-driven "
        "attribution from state (the production form of "
        "events_attribution_shapley)",
        index="touch-state ledger directory",
        batch="parquet of events (any split is fine)",
        stream="event",
    )
    tch.add_argument(
        "--shapley",
        action="store_true",
        help="print Shapley credit per channel from the folded state",
    )

    mkv = _store_parser(
        sub,
        "markov-store",
        "maintained Markov-attribution store (day-decomposed journey "
        "summaries, seam-exact reconstruction): land a day-pure batch "
        "and/or read removal-effect attribution from state (the "
        "production form of events_attribution_markov)",
        index="journey-summary ledger directory",
        batch="parquet of ONE day's events (day-pure)",
        date="batch date (must own all batch events)",
    )
    mkv.add_argument(
        "--credit",
        action="store_true",
        help="print removal-effect credit per channel from the ledger",
    )

    ses = _store_parser(
        sub,
        "session-store",
        "maintained incremental sessionization: land a day-pure "
        "batch's partial sessions and/or read the seam-merged session "
        "table / per-user session stats (the production form of "
        "events_sessionize + feature_user_session_stats)",
        index="partial-session table directory",
        batch=events,
        date=day_pure,
        stream="event",
    )
    ses.add_argument(
        "--sessions-out",
        default=None,
        help="persist the merged session table here (overwrite)",
    )
    ses.add_argument(
        "--stats-out",
        default=None,
        help="persist the per-user session stats here (overwrite)",
    )

    att = _store_parser(
        sub,
        "attribution-store",
        "maintained last-touch attribution: land a day-pure batch's "
        "purchases + per-user last clicks, and/or read the attribution "
        "table (the production form of events_attribution_last_touch)",
        index="attribution ledger directory",
        batch=events,
        date=day_pure,
        keep_from=None,
        stream="event",
    )
    att.add_argument(
        "--out",
        default=None,
        help="persist the attribution table here (overwrite); summary "
        "printed otherwise",
    )
    att.add_argument(
        "--read-mode",
        choices=("last_touch", "linear", "position"),
        default="last_touch",
        help="which attribution table --out persists (each row-equal to "
        "its one-shot lane)",
    )
    att.add_argument(
        "--expire-keep-days",
        type=int,
        default=None,
        help="drop clicks/last_clicks partitions older than "
        "--expire-as-of minus this many days (>= the 7-day lookback; "
        "purchases are never touched)",
    )
    att.add_argument(
        "--expire-as-of",
        default=None,
        help="retention anchor date (required with --expire-keep-days)",
    )
    att.add_argument(
        "--stream-out",
        default=None,
        help="persist the ANY-SPLIT streamed attribution table here "
        "(reads stream_purchases/stream_clicks, not the day-pure "
        "ledger; honors --read-mode)",
    )
    att.add_argument(
        "--compact-keep-from-key",
        default=None,
        help="fold the any-split ledger's ingest_batch partitions with "
        "keys strictly below this one into the base partition "
        "(crash-guarded; spends the folded keys — reads are unchanged)",
    )

    cbd = sub.add_parser(
        "corpus-build",
        help="end-to-end training-corpus build: N daily batches through the "
        "maintained exact + near-dup gates, verdict/gram ledgers, then one "
        "finalized per-doc disposition table (row-equal to the one-shot "
        "corpus_build_disposition lane)",
    )
    cbd.add_argument(
        "--data",
        default=None,
        help="directory holding documents.parquet (required unless "
        "--stream-source or --finalize-only)",
    )
    cbd.add_argument(
        "--work-dir",
        required=True,
        help="store root: gate indexes + per-day ledgers land under here "
        "(date-partitioned; a replayed day overwrites only itself)",
    )
    cbd.add_argument(
        "--days",
        type=int,
        default=1,
        help="number of daily batches the corpus arrives in (1 = one-shot)",
    )
    cbd.add_argument(
        "--day",
        type=int,
        default=None,
        help="run ONLY this day's gate+ledger pass (the scheduled-invocation "
        "form; finalize separately with --finalize-only)",
    )
    cbd.add_argument(
        "--finalize-only",
        action="store_true",
        help="assemble the disposition table from current store state "
        "(combined with --day: run that day's pass FIRST, then finalize — "
        "the one-command 'last day + assemble' invocation)",
    )
    cbd.add_argument("--out", default=None, help="write the disposition parquet here")
    cbd.add_argument(
        "--auto-compact-max-dirs",
        type=int,
        default=None,
        metavar="N",
        help="dir-count auto-compaction for the two GATE indexes AND the "
        "five work-dir ledgers after each day's applies (the "
        "unbounded-days knob): when live date partitions exceed N, fold "
        "the oldest into the base so about N/2 remain. The finalized "
        "disposition is unchanged; a replay of a FOLDED day refuses "
        "(spent key) — boundedness traded for replayability",
    )
    cbd.add_argument(
        "--compact-ledgers-keep-from",
        default=None,
        metavar="KEY",
        help="manual date-fold of the five work-dir ledgers "
        "(pairs/exact_matches/verdicts/grams/docs): fold every date= "
        "partition strictly below KEY into the base, then exit (no day "
        "pass; finalize unchanged, folded days' replay keys spent)",
    )
    _add_stream_args(cbd, "document")

    qry = sub.add_parser("query", help="run a registered analytics query by name")
    qry.add_argument("name", nargs="?", help="query name (see --list)")
    qry.add_argument("--data", help="directory holding the parquet tables")
    qry.add_argument("--out", default=None, help="write full result parquet here")
    qry.add_argument("--limit", type=int, default=20, help="rows printed when no --out")
    qry.add_argument("--list", action="store_true", help="list registered queries")
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)

    if args.cmd == "snapshot":
        from data_ingestion_lambda_spark.operators.snapshot import (
            diff_snapshots,
            expire_snapshots,
            list_snapshots,
            snapshot_table,
        )

        # A scheme-less target is plain-os filesystem work — no
        # SparkSession (and no JVM startup) needed. A URI-scheme target
        # (hdfs://, s3a://, file://...) routes through the Hadoop FS API,
        # which needs the session's JVM.
        import re as _re

        _spark = (
            get_spark("data-ingestion-cli")
            if _re.match(r"^[A-Za-z][A-Za-z0-9+.-]*:", args.target)
            else None
        )

        if args.diff:
            from pyspark.sql import functions as F

            spark = _spark or get_spark("data-ingestion-cli")
            va, vb = (int(x) for x in args.diff.split(","))
            d = diff_snapshots(
                spark, args.target, va, vb, keys=args.keys.split(",")
            )
            counts = {r["status"]: r["n"] for r in
                      d.groupBy("status").agg(F.count("*").alias("n")).collect()}
            print(json.dumps({"statusCode": 200, "diff": counts,
                              "versions": [va, vb]}))
            return 0
        if args.list:
            print(json.dumps({"statusCode": 200,
                              "snapshots": list_snapshots(args.target, spark=_spark)}))
        elif args.expire_keep is not None:
            dropped = expire_snapshots(
                args.target, keep_last=args.expire_keep, spark=_spark
            )
            print(json.dumps({"statusCode": 200, "expired_versions": dropped}))
        else:
            v = snapshot_table(args.target, note=args.note, spark=_spark)
            print(json.dumps({"statusCode": 200, "version": v}))
        return 0

    if args.cmd == "corpus-build":
        from pyspark.sql import functions as F

        from data_ingestion_lambda_spark.operators.corpus_build import (
            finalize_disposition,
            run_corpus_build,
            run_day,
        )
        from data_ingestion_lambda_spark.plans.registry import release_pinned

        if args.stream_source is not None:
            if args.checkpoint is None:
                raise SystemExit("corpus-build: --stream-source requires --checkpoint")
            from data_ingestion_lambda_spark.operators.corpus_build import (
                run_corpus_build_available_now,
            )

            spark = get_spark("data-ingestion-cli")
            reports = run_corpus_build_available_now(
                spark,
                args.stream_source,
                args.work_dir,
                args.checkpoint,
                max_files_per_trigger=args.max_files_per_trigger,
                auto_compact_max_dirs=args.auto_compact_max_dirs,
            )
            print(json.dumps({"statusCode": 200, "batches": reports}))
            return 0
        if args.compact_ledgers_keep_from is not None:
            from data_ingestion_lambda_spark.operators.corpus_build import (
                compact_corpus_ledgers,
            )

            spark = get_spark("data-ingestion-cli")
            rep = compact_corpus_ledgers(
                spark, args.work_dir, args.compact_ledgers_keep_from
            )
            print(json.dumps({"statusCode": 200, "compaction": rep}))
            return 0
        if args.day is not None and not (0 <= args.day < args.days):
            # A forgotten --days would otherwise fall back to 1 and gate
            # the ENTIRE corpus under this day's partition (n_days == 1 is
            # the one-batch model); a --day >= --days typo would silently
            # ledger an empty batch. Both are operator errors — refuse.
            raise SystemExit(
                f"corpus-build: --day {args.day} is out of range for "
                f"--days {args.days} — pass the SAME --days on every "
                "scheduled invocation (it defines the arrival model)"
            )
        if args.data is None and (args.day is not None or not args.finalize_only):
            raise SystemExit(
                "corpus-build: --data is required unless --stream-source "
                "or --finalize-only (a --day pass always needs it)"
            )
        spark = get_spark("data-ingestion-cli")
        if args.day is not None:
            day_rep = run_day(
                spark,
                args.data,
                args.work_dir,
                args.day,
                args.days,
                auto_compact_max_dirs=args.auto_compact_max_dirs,
            )
            # --day + --finalize-only = "run the last day, then assemble"
            # (ADVICE r13: the finalize used to be silently skipped here);
            # without the flag the scheduled per-day invocation returns as
            # before.
            if not args.finalize_only:
                print(json.dumps({"statusCode": 200, "day": day_rep}))
                return 0
        if args.finalize_only:
            disp = finalize_disposition(spark, args.work_dir)
            try:
                if args.out:
                    disp.write.mode("overwrite").parquet(args.out)
                    disp = spark.read.parquet(args.out)
                hist = {
                    r["disposition"]: r["n"]
                    for r in disp.groupBy("disposition")
                    .agg(F.count("*").alias("n"))
                    .collect()
                }
            finally:
                release_pinned()
            out = {"statusCode": 200,
                   "disposition_counts": dict(sorted(hist.items())),
                   "out": args.out}
            if args.day is not None:
                out["day"] = day_rep
            print(json.dumps(out))
            return 0
        report = run_corpus_build(
            spark,
            args.data,
            args.work_dir,
            args.days,
            out_dir=args.out,
            auto_compact_max_dirs=args.auto_compact_max_dirs,
        )
        report["statusCode"] = 200
        report["out"] = args.out
        print(json.dumps(report))
        return 0

    if args.cmd == "query":
        # registry import is deliberately local: ingest/compact invocations
        # shouldn't pay for building the full query-spec registry
        from data_ingestion_lambda_spark.plans import all_specs

        specs = all_specs()
        if args.list or not args.name:
            for name, spec in specs.items():
                print(json.dumps({"name": name, "description": spec.description}))
            return 0
        if args.name not in specs:
            print(f"unknown query: {args.name!r} (try --list)", file=sys.stderr)
            return 2
        if not args.data:
            print("--data DIR is required to run a query", file=sys.stderr)
            return 2
        spark = get_spark("data-ingestion-cli")
        df = specs[args.name].builder(spark, args.data)
        if args.out:
            df.write.mode("overwrite").parquet(args.out)
            print(json.dumps({"statusCode": 200, "query": args.name, "out": args.out}))
        else:
            for row in df.limit(args.limit).collect():
                print(json.dumps(row.asDict(recursive=True), default=str))
        return 0

    if args.cmd in STORE_MODULES:
        return _run_store(args)

    spark = get_spark("data-ingestion-cli")

    if args.cmd == "ingest":
        paths = IngestPaths(
            source_dir=args.source,
            target_dir=args.target,
            checkpoint_dir=args.checkpoint,
            quarantine_dir=args.quarantine,
            log_dir=args.log,
            changes_dir=args.changes,
        )
        processed = run_ingest_available_now(
            spark,
            paths,
            max_files_per_trigger=args.max_files_per_trigger,
            path_glob=args.glob,
        )
        # Response contract of the reference handler (lambda_handler.py:96-102):
        # the dates THIS invocation wrote; a no-op run reports [].
        print(
            json.dumps(
                {
                    "statusCode": 200,
                    "message": "ingestion complete",
                    "processed_dates": processed,
                }
            )
        )
        return 0

    if args.cmd == "compact":
        dates = args.dates.split(",") if args.dates else None
        if args.zorder and not args.sort_by:
            print(json.dumps({"statusCode": 400, "message": "--zorder needs --sort-by"}))
            return 1
        if args.sort_by:
            result = cluster_partitions(
                spark,
                args.target,
                sort_cols=args.sort_by.split(","),
                dates=dates,
                target_file_bytes=args.target_file_mb << 20,
                zorder=args.zorder,
            )
            print(json.dumps({"statusCode": 200, "clustered": result}))
            return 0
        result = compact_partitions(
            spark, args.target, dates=dates, target_file_bytes=args.target_file_mb << 20
        )
        print(json.dumps({"statusCode": 200, "compacted": result}))
        return 0

    if args.cmd == "erase":
        from data_ingestion_lambda_spark.operators.erasure import (
            erase_keys,
            verify_erasure,
        )
        from data_ingestion_lambda_spark.operators.store_erasure import (
            STORE_SPECS,
            erase_store,
            verify_store_erasure,
        )

        if args.jdbc_url is not None:
            from data_ingestion_lambda_spark.operators.jdbc_upsert import (
                erase_via_jdbc,
            )

            if args.store is not None:
                print(json.dumps({
                    "statusCode": 400,
                    "message": "erase: --jdbc-url and --store are mutually "
                    "exclusive (--target names the DB table for --jdbc-url)",
                }))
                return 1
            if not args.verify_only and not args.request_id:
                print(json.dumps({"statusCode": 400,
                                  "message": "erase needs --request-id"}))
                return 1
            key_col = args.key_col if args.key_col is not None else "client_id"
            keys = spark.read.parquet(args.keys).select(key_col)
            report = erase_via_jdbc(
                keys,
                args.jdbc_url,
                args.target,
                key_col=key_col,
                staging_table=args.jdbc_staging,
                ident_quote=args.jdbc_quote,
                staging_column_types=args.jdbc_staging_types,
                verify_only=args.verify_only,
            )
            if args.request_id:
                report["request_id"] = args.request_id
            print(json.dumps({"statusCode": 200, **report}))
            return 0 if report["residual_rows"] == 0 else 1

        from data_ingestion_lambda_spark.operators.scd2 import (
            erase_scd2,
            verify_scd2_erasure,
        )
        from data_ingestion_lambda_spark.operators.snapshot import (
            erase_snapshot_versions,
            verify_snapshot_erasure,
        )

        # Table-adjacent artifacts (VERDICT r13 #1): erased through their
        # own machinery, not the STORE_SPECS partition rewrite. Each entry:
        # (default key col, erase fn, verify fn).
        artifact = {
            "scd2": ("user_id", erase_scd2, verify_scd2_erasure),
            "snapshots": ("user_id", erase_snapshot_versions, verify_snapshot_erasure),
            "cdc-feed": (
                "client_id",
                lambda sp, t, k, rid, key_col: erase_keys(
                    sp, t, k, rid, key_col=key_col
                ),
                lambda sp, t, k, key_col: verify_erasure(
                    sp, t, k, key_col=key_col
                ),
            ),
            "quarantine": (
                "client_id",
                lambda sp, t, k, rid, key_col: erase_keys(
                    sp, t, k, rid, key_col=key_col, part_col="_batch_id"
                ),
                lambda sp, t, k, key_col: verify_erasure(
                    sp, t, k, key_col=key_col, part_col="_batch_id"
                ),
            ),
        }

        if args.store is not None and args.store not in artifact:
            if args.store not in STORE_SPECS:
                # unknown name or an unlearnable sketch store: surface the
                # refusal/remedy BEFORE touching the keys parquet (the
                # 'user_id' key-column fallback would otherwise die on a
                # doc-keyed keys file with a raw AnalysisException)
                from data_ingestion_lambda_spark.operators.store_erasure import (
                    UNLEARNABLE,
                    _rebuild_remedy,
                )

                msg = (
                    _rebuild_remedy(args.store)
                    if args.store in UNLEARNABLE
                    else f"unknown store {args.store!r} "
                    f"(erasable: {sorted(STORE_SPECS) + sorted(artifact)}; "
                    f"rebuild-or-rotate: {sorted(UNLEARNABLE)})"
                )
                print(json.dumps({"statusCode": 400, "message": msg}))
                return 1
            key_col = (
                args.key_col
                if args.key_col is not None
                else STORE_SPECS[args.store].key_col
            )
        elif args.store is not None:
            key_col = args.key_col if args.key_col is not None else artifact[args.store][0]
        else:
            key_col = args.key_col if args.key_col is not None else "user_id"
        keys = spark.read.parquet(args.keys).select(key_col)
        if args.verify_only:
            if args.store in artifact:
                residual = artifact[args.store][2](
                    spark, args.target, keys, key_col
                )
            elif args.store is not None:
                residual = verify_store_erasure(
                    spark, args.store, args.target, keys, key_col=key_col
                )
            else:
                residual = verify_erasure(spark, args.target, keys, key_col=key_col)
            print(json.dumps({"statusCode": 200, "residual_rows": residual}))
            return 0 if residual == 0 else 1
        if not args.request_id:
            print(json.dumps({"statusCode": 400, "message": "erase needs --request-id"}))
            return 1
        if args.store in artifact:
            _, erase_fn, verify_fn = artifact[args.store]
            report = erase_fn(spark, args.target, keys, args.request_id, key_col)
            report["residual_rows"] = verify_fn(spark, args.target, keys, key_col)
        elif args.store is not None:
            try:
                report = erase_store(
                    spark, args.store, args.target, keys, args.request_id,
                    key_col=key_col,
                )
            except ValueError as e:
                # unknown store, or an unlearnable sketch store: surface
                # the rebuild-or-rotate remedy as the CLI response
                print(json.dumps({"statusCode": 400, "message": str(e)}))
                return 1
            report["residual_rows"] = verify_store_erasure(
                spark, args.store, args.target, keys, key_col=key_col
            )
        else:
            report = erase_keys(
                spark, args.target, keys, args.request_id, key_col=key_col
            )
            report["residual_rows"] = verify_erasure(
                spark, args.target, keys, key_col=key_col
            )
        print(json.dumps({"statusCode": 200, **report}))
        return 0 if report["residual_rows"] == 0 else 1

    expired = expire_partitions(spark, args.target, keep_from=args.keep_from)
    print(json.dumps({"statusCode": 200, "expired": expired}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
