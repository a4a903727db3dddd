"""Incremental corpus-build runner — the MAINTAINED form of the
``corpus_build_disposition`` capstone lane: N daily batches flow through
the persisted dedup-gate indexes and per-day ledgers, and the finalized
disposition table row-equals the one-shot lane (pinned in
tests/test_corpus_build.py).

Daily economics (the reference's own ingest-loop shape,
src/lambda_handler.py:38-102 — re-read only the new day's files against
stored state, never rebuild history):

- **exact gate** (``dedup_gate`` mode='exact'): the day's docs probe the
  persisted md5 digest index; flagged re-crawls stop here and do NOT
  proceed to the near-dup gate — the gate-in-front deployment the
  dedup_gate module documents. ALL docs (flagged included) are indexed,
  so the final canonical-min computation sees the whole corpus.
- **near-dup gate** (mode='minhash'): surviving docs probe the persisted
  signature index; each day pays batch-bands × matching-buckets, and the
  accumulated pair ledger equals the one-shot LSH pair set (the gate's
  equivalence contract, tests/test_dedup_gate.py).
- **verdict ledger**: quality + repetition signals are row-local, so the
  day's docs are scored ONCE (quality_table / repetition_table — the
  registered lanes' own expressions) and persisted; history is never
  re-tokenized.
- **gram ledger**: each doc's decontamination window hashes
  (decon_doc_grams) persist once; the eval-overlap screen at finalize
  joins persisted hashes only. This is the bidirectional-correct form:
  an eval doc arriving on day N retroactively contaminates a day-1 train
  doc because the screen runs over the ACCUMULATED gram store, not over
  any single day's view.
- **docs ledger**: (doc_id, source, n_chars, bucket) per day — the
  narrow metadata the finalize assembly joins.

All five stores commit via ``replace_partitions`` under ``date=<day>`` —
a replayed day overwrites only itself (idempotence pinned).

``finalize_disposition`` derives the per-doc table from final store
state only (exact-dup = non-min of digest group; clusters = CC over the
pair ledger; contamination = gram screen + BFS over the same ledger;
cap + split over survivors) and assembles through the SAME
``assemble_disposition`` the one-shot lane uses — order of arrival can
never change the verdict because every derivation is a function of
accumulated state.

Scale: per-day cost is batch-sized (gate probes against partition-pruned
indexes, row-local scoring); the finalize is dominated by CC + BFS over
the pair GRAPH (orders of magnitude under the corpus) and doc-keyed
joins of narrow ledgers — document text is read exactly once per doc,
on its arrival day.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestion_lambda_spark.operators.dedup_gate import apply_batch
from data_ingestion_lambda_spark.operators.layout import (
    PARTITION_COL,
    partition_values,
    replace_partitions,
)
from data_ingestion_lambda_spark.plans.corpus_build import (
    RECRAWL_OFFSET,
    assemble_disposition,
    corpus_with_recrawl,
)
from data_ingestion_lambda_spark.plans.curation import split_assign
from data_ingestion_lambda_spark.plans.graph_ops import (
    CONTAM_HOPS,
    bfs_hops,
    cluster_flags,
    connected_components,
    keep_verdict,
)
from data_ingestion_lambda_spark.plans.llm_ops import (
    _doc_hash,
    decon_doc_grams,
    decon_verdict,
    quality_table,
    repetition_table,
)
from data_ingestion_lambda_spark.plans.registry import pin, release_pinned

# Store layout under the work dir. The two gate indexes carry signatures;
# the three ledgers carry the day's derived narrow rows.
EXACT_INDEX = "exact_index"
EXACT_MATCHES = "exact_matches"
MINHASH_INDEX = "minhash_index"
PAIRS = "pairs"
VERDICTS = "verdicts"
GRAMS = "grams"
DOCS = "docs"

_EMPTY_SCHEMAS = {
    PAIRS: "new_doc long, dup_of long, est_jaccard double, match_kind string",
    EXACT_MATCHES: "new_doc long, dup_of long, est_jaccard double, match_kind string",
    GRAMS: "doc_id long, bucket bigint, h bigint",
}


def day_label(day: int) -> str:
    return f"d{day:03d}"


def batch_for_day(corpus: DataFrame, day: int, n_days: int) -> DataFrame:
    """Deterministic arrival model: originals spread over days 0..N-2 by
    doc_id modulo, the re-crawl sweep arrives on the LAST day (re-crawls
    by definition postdate the crawl they repeat — and arrival order is
    what lets the exact gate stop them before the near-dup index, the
    same order the one-shot lane's min-id canonicalization encodes). With
    n_days=1 everything lands in one batch and the within-batch digest
    pairs catch the re-crawls instead."""
    if n_days < 1:
        raise ValueError(f"n_days must be >= 1, got {n_days}")
    is_recrawl = F.col("doc_id") >= RECRAWL_OFFSET
    if n_days == 1:
        return corpus
    if day == n_days - 1:
        return corpus.filter(is_recrawl)
    span = n_days - 1
    return corpus.filter(~is_recrawl & (F.col("doc_id") % span == day))


def _store(work_dir: str, name: str) -> str:
    return os.path.join(work_dir, name)


def _read_store_typed(
    spark: SparkSession, work_dir: str, name: str, schema: str
) -> DataFrame:
    """Accumulated store rows (partition column dropped); typed empty frame
    when no day has written yet."""
    path = _store(work_dir, name)
    if partition_values(spark, path, PARTITION_COL):
        return spark.read.parquet(path).drop(PARTITION_COL)
    return spark.createDataFrame([], schema=schema)


def _read_store(spark: SparkSession, work_dir: str, name: str) -> DataFrame:
    return _read_store_typed(spark, work_dir, name, _EMPTY_SCHEMAS[name])


def run_day(
    spark: SparkSession,
    sf_dir: str,
    work_dir: str,
    day: int,
    n_days: int,
    auto_compact_max_dirs: int | None = None,
) -> dict:
    """Gate + score + ledger one day's batch. Idempotent: a replay
    overwrites exactly its own ``date=<day>`` partitions (the gates probe
    with own-partition exclusion, so re-derived flags are identical).

    ``auto_compact_max_dirs`` opts the two GATE indexes into the
    dir-count fold policy after the day's applies (base_fold's
    auto_compact_epilogue) — the knob an unbounded-days deployment turns.
    Folding never changes the finalized disposition (the exact gate's
    canonical-min and the probes read all index rows regardless of
    partition identity — pinned in tests/test_corpus_build.py); what it
    SPENDS is the folded days' replay keys, so a replay of a folded day
    refuses loudly instead of being idempotent — boundedness traded for
    replayability, the standard folded-store contract."""
    date = day_label(day)
    batch = batch_for_day(corpus_with_recrawl(spark, sf_dir), day, n_days)
    report = gate_and_ledger_batch(spark, work_dir, batch, date)
    if auto_compact_max_dirs is not None:
        from data_ingestion_lambda_spark.operators.base_fold import (
            auto_compact_epilogue,
        )
        from data_ingestion_lambda_spark.operators.dedup_gate import (
            compact_gate_index,
        )

        report["auto_compact"] = {
            name: auto_compact_epilogue(
                spark,
                _store(work_dir, name),
                max_dirs=auto_compact_max_dirs,
                compact_fn=lambda kf, _d=_store(work_dir, name): compact_gate_index(
                    spark, _d, kf
                ),
            )
            for name in (EXACT_INDEX, MINHASH_INDEX)
        }
        # the five ledgers fold together under the work-dir-root horizon;
        # the dir count is taken from the docs ledger (every day writes it)
        report["auto_compact"]["ledgers"] = auto_compact_epilogue(
            spark,
            work_dir,
            max_dirs=auto_compact_max_dirs,
            compact_fn=lambda kf: compact_corpus_ledgers(spark, work_dir, kf),
            count_dir=_store(work_dir, DOCS),
            part_key=PARTITION_COL,
        )
    return report


# The five work-dir LEDGERS (vs the two gate INDEXES, which have their
# own fold via compact_gate_index): disjoint rows per day, read by
# finalize with the partition column dropped — so their fold is pure
# concatenation into the reserved base and finalize semantics are
# unchanged by construction.
LEDGERS = (PAIRS, EXACT_MATCHES, VERDICTS, GRAMS, DOCS)


def compact_corpus_ledgers(
    spark: SparkSession, work_dir: str, keep_from: str
) -> dict:
    """Date-fold for the corpus-build work-dir ledgers (VERDICT r13 #2):
    every ``date=`` partition of pairs/exact_matches/verdicts/grams/docs
    strictly below ``keep_from`` folds into the reserved base partition,
    under ONE ``_horizon=`` marker at the work-dir root (the five always
    fold together — a day's rows span all five, and a partially-folded
    day would make the replay refusal inconsistent across them).

    Finalize is unchanged: ``_read_store*`` drops the partition column,
    so concatenation is exact by construction (row-equality pinned in
    tests/test_corpus_build.py). What folding SPENDS is the folded days'
    replay keys — ``gate_and_ledger_batch`` refuses a batch date below
    the horizon, because its ledger writes could no longer overwrite
    only themselves. Standard base_fold crash discipline (horizon
    marker first, staged swap per sub-table, crashed swap finished by
    the next run)."""
    from data_ingestion_lambda_spark.operators.base_fold import (
        BASE_KEY,
        base_fold,
    )

    concat = lambda src: (src.drop(PARTITION_COL), [])  # noqa: E731
    return base_fold(
        spark,
        work_dir,
        keep_from,
        op_name="corpus-build ledger compact",
        part_key=PARTITION_COL,
        base_key=BASE_KEY,
        subtables={name: concat for name in LEDGERS},
    )


def gate_and_ledger_batch(
    spark: SparkSession, work_dir: str, batch: DataFrame, date: str
) -> dict:
    """The per-batch pipeline core shared by the day runner and the
    streamed front: exact gate → near-dup gate (both probing their AS-OF
    index state, ``before_date`` — batch keys must be MONOTONE) →
    verdict/gram/docs ledgers, everything landing under ``date=<date>``
    partitions. ``batch`` carries (doc_id, source, text, n_chars)."""
    from data_ingestion_lambda_spark.operators.base_fold import (
        check_not_below_horizon,
    )

    # A date whose ledger partitions were folded into the base cannot
    # overwrite itself — refuse the spent key before any store is touched
    # (the gate indexes carry their own identical refusal inside
    # apply_batch; the two policies can be turned independently).
    check_not_below_horizon(spark, work_dir, date, "corpus-build ledgers")

    # 1. exact gate in front — flagged docs are indexed but do not proceed.
    rep_exact = apply_batch(
        spark,
        _store(work_dir, EXACT_INDEX),
        batch,
        date,
        matches_dir=_store(work_dir, EXACT_MATCHES),
        mode="exact",
        before_date=date,
    )
    # A day with zero flags writes no matches partition (replace_partitions
    # of an empty frame is a no-op) — treat absence as the empty flag set.
    em = _store(work_dir, EXACT_MATCHES)
    if date in partition_values(spark, em, PARTITION_COL):
        flagged = (
            spark.read.parquet(em)
            .filter(F.col(PARTITION_COL) == date)
            .select(F.col("new_doc").alias("doc_id"))
            .distinct()
        )
    else:
        flagged = spark.createDataFrame([], schema="doc_id long")
    proceed = batch.join(flagged, "doc_id", "left_anti")

    # 2. near-dup gate over the exact survivors; pairs land in the ledger.
    rep_mh = apply_batch(
        spark,
        _store(work_dir, MINHASH_INDEX),
        proceed,
        date,
        matches_dir=_store(work_dir, PAIRS),
        mode="minhash",
        before_date=date,
    )

    # 3. verdict ledger: the registered lanes' row-local scoring, once.
    verdicts = (
        quality_table(proceed)
        .select("doc_id", "passes_quality")
        .join(
            repetition_table(proceed).select(
                "doc_id", "dup_2gram_frac", "top_1gram_frac"
            ),
            "doc_id",
        )
        .withColumn(PARTITION_COL, F.lit(date))
    )
    replace_partitions(spark, _store(work_dir, VERDICTS), verdicts, [date])

    # 4. gram ledger: decontamination window hashes, once per doc.
    grams = (
        decon_doc_grams(proceed)
        .select("doc_id", "bucket", F.explode("ghs").alias("h"))
        .withColumn(PARTITION_COL, F.lit(date))
    )
    replace_partitions(spark, _store(work_dir, GRAMS), grams, [date])

    # 5. docs ledger: narrow metadata for every batch doc (re-crawls too —
    # the final table emits a row for them).
    docs = batch.select(
        "doc_id", "source", "n_chars", (_doc_hash() % 100).alias("bucket")
    ).withColumn(PARTITION_COL, F.lit(date))
    replace_partitions(spark, _store(work_dir, DOCS), docs, [date])

    return {
        "date": date,
        "batch_docs": rep_exact["batch_docs"],
        "exact_flagged": rep_exact["flagged_docs"],
        "near_dup_pairs": rep_mh["dup_pairs"],
        "near_dup_flagged": rep_mh["flagged_docs"],
    }


# Drops carry the documents table's shape; extra columns in the files are
# ignored by the streaming reader's explicit schema.
CORPUS_DOCS_SCHEMA = "doc_id bigint, source string, text string, n_chars bigint"


def run_corpus_build_available_now(
    spark: SparkSession,
    source_dir: str,
    work_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
    auto_compact_max_dirs: int | None = None,
) -> list[dict]:
    """Structured Streaming in FRONT of the corpus-build pipeline — the
    reference's deployment shape (a scheduled invocation drains every
    document drop the offset log has not seen) applied to the capstone:
    each micro-batch runs the exact gate → near-dup gate → ledger core
    under its own monotone ``b<id>`` key, so at-least-once foreachBatch
    inherits the per-key idempotence, and ``finalize_disposition`` over
    the accumulated stores row-equals the one-shot lane for any drop
    split in which a re-crawl lands no earlier than its original (the
    gate-in-front contract; pinned in tests/test_corpus_build.py).
    Returns the per-batch gate reports; a no-op drain returns []."""
    from data_ingestion_lambda_spark.operators.base_fold import auto_compact_epilogue
    from data_ingestion_lambda_spark.operators.dedup_gate import compact_gate_index
    from data_ingestion_lambda_spark.streaming.index_streams import _drain

    reports = _drain(
        spark,
        source_dir,
        checkpoint_dir,
        CORPUS_DOCS_SCHEMA,
        lambda batch, key: gate_and_ledger_batch(spark, work_dir, batch, key),
        max_files_per_trigger,
    )
    stores = [
        (name, _store(work_dir, name), compact_gate_index, None)
        for name in (EXACT_INDEX, MINHASH_INDEX)
    ]
    stores.append(("ledgers", work_dir, compact_corpus_ledgers, _store(work_dir, DOCS)))
    for name, ledger_dir, compact, count_dir in stores:
        policy = auto_compact_epilogue(
            spark,
            ledger_dir,
            max_dirs=auto_compact_max_dirs,
            compact_fn=lambda kf, _c=compact, _d=ledger_dir: _c(spark, _d, kf),
            checkpoint_dir=checkpoint_dir,
            count_dir=count_dir,
        )
        if policy is not None:
            reports.append({name: {"auto_compact": policy}})
    return reports


def finalize_disposition(spark: SparkSession, work_dir: str) -> DataFrame:
    """The per-doc disposition table from accumulated store state — the
    same assembly as the one-shot lane, parts sourced from the ledgers."""
    docs = _read_store_typed(spark, work_dir, DOCS, "doc_id long, source string, n_chars long, bucket bigint")

    # Every ledger read above goes through the typed empty-store guard;
    # the exact index is the one store finalize cannot fake an empty twin
    # for (its rows drive canonicalization), so an un-ingested work dir
    # refuses cleanly instead of dying in schema inference (ADVICE r13).
    if not partition_values(spark, _store(work_dir, EXACT_INDEX), PARTITION_COL):
        raise ValueError(
            f"finalize_disposition: no day has been ingested into work dir "
            f"{work_dir} yet (the exact gate index is empty) — run the "
            "daily passes (corpus-build --day / --stream-source) first"
        )
    exact_idx = spark.read.parquet(_store(work_dir, EXACT_INDEX)).select("doc_id", "sig")
    canon = exact_idx.groupBy("sig").agg(F.min("doc_id").alias("_canon"))
    exact_flags = exact_idx.join(canon, "sig").select(
        "doc_id", (F.col("doc_id") != F.col("_canon")).alias("is_exact_dup")
    )
    meta = docs.join(exact_flags, "doc_id").select(
        "doc_id", "source", "n_chars", "bucket", "is_exact_dup"
    ).transform(pin)
    originals = meta.filter(~F.col("is_exact_dup"))

    pairs = _read_store(spark, work_dir, PAIRS)
    edges = pairs.select(F.col("new_doc").alias("u"), F.col("dup_of").alias("v"))
    assign = connected_components(edges)
    clus = cluster_flags(originals.select("doc_id"), assign)

    verdicts = _read_store_typed(
        spark,
        work_dir,
        VERDICTS,
        "doc_id long, passes_quality boolean, dup_2gram_frac double, top_1gram_frac double",
    )
    kd = keep_verdict(
        clus,
        verdicts.select("doc_id", "dup_2gram_frac", "top_1gram_frac"),
        verdicts.select("doc_id", "passes_quality"),
    )

    grams = _read_store(spark, work_dir, GRAMS)
    decon = decon_verdict(originals.select("doc_id", "bucket"), grams)
    seeds = decon.where(F.col("contaminated")).select("doc_id").transform(pin)
    radius = bfs_hops(seeds, edges, CONTAM_HOPS)

    split_tbl = split_assign(originals.select("doc_id", "source"))
    return assemble_disposition(
        meta.select("doc_id", "source", "n_chars", "is_exact_dup"),
        kd,
        radius,
        split_tbl,
    )


def run_corpus_build(
    spark: SparkSession,
    sf_dir: str,
    work_dir: str,
    n_days: int,
    out_dir: str | None = None,
    auto_compact_max_dirs: int | None = None,
) -> dict:
    """Drive the whole workflow: N daily gate+ledger passes, then the
    finalize. Returns the report dict (per-day gate counts + disposition
    histogram); writes the final table to ``out_dir`` when given."""
    days = [
        run_day(
            spark,
            sf_dir,
            work_dir,
            day,
            n_days,
            auto_compact_max_dirs=auto_compact_max_dirs,
        )
        for day in range(n_days)
    ]
    disp = finalize_disposition(spark, work_dir)
    try:
        if out_dir is not None:
            disp.write.mode("overwrite").parquet(out_dir)
            disp = spark.read.parquet(out_dir)
        hist = {
            r["disposition"]: r["n"]
            for r in disp.groupBy("disposition").agg(F.count("*").alias("n")).collect()
        }
    finally:
        release_pinned()
    return {"days": days, "disposition_counts": dict(sorted(hist.items()))}
