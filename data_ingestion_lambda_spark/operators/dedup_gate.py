"""Maintained incremental near-dup gate — the PRODUCTION form of the
batch-vs-corpus dedup the registered trio models in one shot
(``dedup_incremental_exact`` / ``dedup_incremental_minhash`` /
``dedup_incremental_embedding`` rebuild both sides' signatures per run;
this module PERSISTS the historical MinHash index and each daily batch
only builds its own).

Reference intent: the reference's daily ingest loop re-reads only the
new day's files against its stored table (src/lambda_handler.py:38-102,
src/db_operations.py:29); the same economics applied to dedup means the
signature index is written once and every batch pays
batch-bands x matching-buckets, never a corpus rebuild.

Index layout: a ``date=<batch>``-partitioned parquet table of
``(doc_id, sig array<bigint>)`` — one NUM_HASHES-long signature per doc,
the exact rows ``minhash_sig_table`` computes. A second lane
(``mode='exact'``) persists the 16-byte md5 content digest instead and
probes by digest equality — the exact-dup gate most deployments run IN
FRONT of the near-dup one; a third (``mode='embedding'``) persists the
vector itself and probes via the banded sign-LSH + side-aware rectangle
sgemm of ``dedup_incremental_embedding`` — together the three lanes are
the maintained form of the full incremental trio, under one partition
layout, one commit protocol, one equivalence discipline. Band keys are DERIVED at
probe time (a narrow codegen projection, 16 short rows per doc); storing
them would triple the index for a projection's worth of savings. At
100 TB the variant worth the storage is a band table BUCKETED by
``band_key`` (saveAsTable + bucketBy), making the daily probe a
bucket-pruned join; the partition-per-batch-date layout here is the
piece that stays either way, because it is what makes appends atomic and
re-runs idempotent.

Commit protocol: each accepted batch's signatures land via
``replace_partitions`` (operators/layout.py) under its OWN
``date=<batch_date>`` partition — the batch-id-keyed sink idiom: a
replayed batch overwrites only itself, so the gate is idempotent by
construction (pinned in tests/test_dedup_gate.py).

Equivalence contract (the apply_scd2 test pattern): applying N daily
batches through the gate emits, across the N runs, EXACTLY the pair set
the full-corpus ``dedup_minhash_lsh`` computes in one shot — every pair
surfaces exactly once, on the day its later member arrives (cross-batch
pairs via the index probe, same-batch pairs via the within-batch LSH) —
and the index after day N row-equals ``minhash_sig_table`` of the full
corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestion_lambda_spark.operators.base_fold import (
    BASE_KEY,
    base_fold,
    check_not_below_horizon,
)
from data_ingestion_lambda_spark.operators.layout import (
    PARTITION_COL,
    finish_swaps,
    partition_values,
    replace_partitions,
)
from data_ingestion_lambda_spark.plans.llm_ops import (
    NUM_BANDS,
    NUM_HASHES,
    minhash_band_keys,
    minhash_sig_table,
)
from data_ingestion_lambda_spark.plans.similarity import (
    _band_keyed,
    _score_bucket_group,
    _score_bucket_group_flagged,
)

# Same acceptance threshold as the one-shot LSH rows — estimated Jaccard
# from signature agreement; pairs below it are band-collision noise.
EST_JACCARD_MIN = 0.5


# Index lanes. 'minhash' (default) persists NUM_HASHES-long signatures
# and probes via band keys + agreement rescore; 'exact' persists the
# 16-byte md5 content digest and probes via plain digest equality (the
# dedup_exact_text / dedup_incremental_exact lane — est_jaccard is 1.0
# by definition for a content-identical match); 'embedding' persists the
# vector itself (the sign-LSH probe needs it for the exact rescore —
# there is no smaller sketch that preserves the cosine) and probes via
# the banded sign-hyperplane LSH + side-aware rectangle sgemm of
# dedup_incremental_embedding. An index directory is MODE-SPECIFIC: the
# sig column types differ (array<bigint> vs string vs array<float>), so
# reading an index with the wrong mode fails loudly on the join.
_MODE_SCHEMAS = {
    "minhash": "doc_id long, sig array<bigint>",
    "exact": "doc_id long, sig string",
    "embedding": "doc_id long, sig array<float>",
}

# Batch input column per mode: text modes sketch (doc_id, text) document
# batches; the embedding mode gates (vec_id-keyed) embedding batches.
MODE_INPUT_COL = {
    "minhash": "text",
    "exact": "text",
    "embedding": "embedding",
}


def _sig_table(batch_docs: DataFrame, mode: str) -> DataFrame:
    if mode == "minhash":
        return minhash_sig_table(batch_docs)
    if mode == "exact":
        return batch_docs.select(
            "doc_id", F.md5(F.col("text").cast("binary")).alias("sig")
        )
    if mode == "embedding":
        return batch_docs.select(
            "doc_id", F.col("embedding").cast("array<float>").alias("sig")
        )
    raise ValueError(f"unknown dedup-gate mode {mode!r}")


def read_index(
    spark: SparkSession,
    index_dir: str,
    exclude_date: str | None = None,
    mode: str = "minhash",
    before_date: str | None = None,
) -> DataFrame:
    """(doc_id, sig) for every previously gated batch; empty frame with
    the right schema when no batch has been applied yet. ``exclude_date``
    drops one batch partition (partition-pruned, no data read) — how a
    REPLAYED batch avoids matching its own earlier write. ``before_date``
    restricts to partitions strictly BEFORE it (lexical order) — as-of
    semantics for pipelines whose batch labels are monotone: replaying an
    OLD day then probes the index state that day originally saw, not one
    polluted by later days' signatures (the corpus-build runner's replay
    idempotence depends on this)."""
    if partition_values(spark, index_dir, PARTITION_COL):
        idx = spark.read.parquet(index_dir)
        if exclude_date is not None:
            idx = idx.filter(F.col(PARTITION_COL) != exclude_date)
        if before_date is not None:
            idx = idx.filter(F.col(PARTITION_COL) < before_date)
        return idx.select("doc_id", "sig")
    return spark.createDataFrame([], schema=_MODE_SCHEMAS[mode])


def _rescore(cand: DataFrame, new_sig: DataFrame, old_sig: DataFrame) -> DataFrame:
    """Signature-agreement rescore of candidate (new_doc, dup_of) pairs —
    identical arithmetic to dedup_minhash_lsh's verification step."""
    sn = new_sig.alias("sn")
    so = old_sig.alias("so")
    matches = F.size(
        F.filter(
            F.sequence(F.lit(1), F.lit(NUM_HASHES)),
            lambda i: F.element_at(F.col("sn.sig"), i)
            == F.element_at(F.col("so.sig"), i),
        )
    )
    est = matches.cast("double") / NUM_HASHES
    return (
        cand.join(sn, F.col("new_doc") == F.col("sn.doc_id"))
        .join(so, F.col("dup_of") == F.col("so.doc_id"))
        .select("new_doc", "dup_of", est.alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= EST_JACCARD_MIN)
    )


def _exact_pairs(new_sig: DataFrame, old_sig: DataFrame) -> DataFrame:
    """Digest-equality probe for mode='exact': cross pairs against the
    index plus oriented within-batch pairs; est_jaccard is 1.0 by
    definition (content-identical). The join ships 16-byte digests only —
    the dedup_exact_text shuffle shape."""
    n = new_sig.alias("n")
    cross = (
        n.join(old_sig.alias("o"), F.col("n.sig") == F.col("o.sig"))
        .select(
            F.col("n.doc_id").alias("new_doc"),
            F.col("o.doc_id").alias("dup_of"),
            F.lit(1.0).alias("est_jaccard"),
            F.lit("index").alias("match_kind"),
        )
    )
    within = (
        n.join(
            new_sig.alias("m"),
            (F.col("n.sig") == F.col("m.sig"))
            & (F.col("n.doc_id") > F.col("m.doc_id")),
        )
        .select(
            F.col("n.doc_id").alias("new_doc"),
            F.col("m.doc_id").alias("dup_of"),
            F.lit(1.0).alias("est_jaccard"),
            F.lit("batch").alias("match_kind"),
        )
    )
    return cross.unionByName(within)


def _embedding_pairs(new_sig: DataFrame, old_sig: DataFrame) -> DataFrame:
    """Sign-LSH probe for mode='embedding': the batch's vectors and the
    persisted index vectors are band-keyed (shared _band_keyed — 16
    bands × 8 planes, one (band, bucket) row per vector per band) and
    shuffled ONCE on the coarse group key with a physical ``side`` flag;
    cross-batch pairs come from the side-aware rectangle sgemm
    (new rows × old columns — old-old never scored, the
    dedup_incremental_embedding shape) and within-batch pairs from the
    full-corpus scorer over the batch alone. The score column is the
    exact float64 ``cosine`` (same IEEE sequence as the one-shot
    operators), not an est_jaccard."""
    new_v = new_sig.select(
        F.col("doc_id").alias("vec_id"), F.col("sig").alias("vf")
    )
    old_v = old_sig.select(
        F.col("doc_id").alias("vec_id"), F.col("sig").alias("vf")
    )
    cross = (
        _band_keyed(new_v)
        .withColumn("side", F.lit(1))
        .unionByName(_band_keyed(old_v).withColumn("side", F.lit(0)))
        .groupBy("band", "grp")
        .applyInPandas(
            _score_bucket_group_flagged, "new_vec bigint, dup_of bigint, cosine double"
        )
        .distinct()
        .select(
            F.col("new_vec").alias("new_doc"),
            "dup_of",
            "cosine",
            F.lit("index").alias("match_kind"),
        )
    )
    # _score_bucket_group orients vec_a < vec_b; the gate's within-batch
    # convention (new_doc > dup_of, the later-arriving id flags) maps to
    # (vec_b, vec_a).
    within = (
        _band_keyed(new_v)
        .groupBy("band", "grp")
        .applyInPandas(
            _score_bucket_group, "vec_a bigint, vec_b bigint, cosine double"
        )
        .distinct()
        .select(
            F.col("vec_b").alias("new_doc"),
            F.col("vec_a").alias("dup_of"),
            "cosine",
            F.lit("batch").alias("match_kind"),
        )
    )
    return cross.unionByName(within)


def probe_batch(
    spark: SparkSession,
    index_dir: str,
    batch_docs: DataFrame,
    exclude_date: str | None = None,
    mode: str = "minhash",
    before_date: str | None = None,
) -> DataFrame:
    """Near-dup flags for an incoming batch: (new_doc, dup_of, est_jaccard,
    match_kind) where ``match_kind`` is 'index' (duplicate of a previously
    gated doc) or 'batch' (duplicate WITHIN the incoming batch —
    new_doc > dup_of orients the pair). Read-only: the index is untouched.

    Plan shape: the batch's signatures build once (persisted — band join
    + two rescores reference them); the historical side ships only
    ``sig`` rows and their derived band keys, so document text never
    reshuffles. The band join is the only corpus-sized exchange, keyed on
    (j, band_key) exactly like the one-shot LSH."""
    new_sig = _sig_table(batch_docs, mode)
    old_sig = read_index(
        spark, index_dir, exclude_date=exclude_date, mode=mode, before_date=before_date
    )
    if mode == "exact":
        return _exact_pairs(new_sig, old_sig)
    if mode == "embedding":
        return _embedding_pairs(new_sig, old_sig)
    new_bands = minhash_band_keys(new_sig)
    old_bands = minhash_band_keys(old_sig)

    nb = new_bands.alias("n")
    cross = (
        nb.join(
            old_bands.alias("o"),
            (F.col("n.j") == F.col("o.j"))
            & (F.col("n.band_key") == F.col("o.band_key")),
        )
        .select(F.col("n.doc_id").alias("new_doc"), F.col("o.doc_id").alias("dup_of"))
        .distinct()
    )
    within = (
        nb.join(
            new_bands.alias("m"),
            (F.col("n.j") == F.col("m.j"))
            & (F.col("n.band_key") == F.col("m.band_key"))
            & (F.col("n.doc_id") > F.col("m.doc_id")),
        )
        .select(F.col("n.doc_id").alias("new_doc"), F.col("m.doc_id").alias("dup_of"))
        .distinct()
    )
    return _rescore(cross, new_sig, old_sig).withColumn(
        "match_kind", F.lit("index")
    ).unionByName(
        _rescore(within, new_sig, new_sig).withColumn("match_kind", F.lit("batch"))
    )


def apply_batch(
    spark: SparkSession,
    index_dir: str,
    batch_docs: DataFrame,
    batch_date: str,
    matches_dir: str | None = None,
    mode: str = "minhash",
    before_date: str | None = None,
) -> dict:
    """Gate one batch: probe, optionally persist the flag table, then
    append the batch's signatures to the index under ``date=batch_date``.

    Flag-don't-drop policy: ALL batch docs are indexed, duplicates
    included — the flag table is the artifact a downstream mixture
    builder filters on (same division of labor as corpus_final_selection),
    and indexing everything is what keeps the N-day gate row-equal to the
    full-corpus recompute. A re-run of the same (batch, date) overwrites
    only its own partition and its own matches partition — idempotent.

    Returns the reference-handler-shaped report dict."""
    # Own-partition exclusion makes the replay self-consistent: a re-run
    # probes exactly what the first run probed (everything EXCEPT the
    # partition this batch owns), so it recomputes identical matches
    # instead of matching its own earlier write. Pipelines with MONOTONE
    # batch labels should also pass before_date=batch_date: replaying an
    # old day then probes its as-of index state, not one polluted by
    # later days (see read_index).
    #
    # Dates strictly below the compaction horizon are SPENT: their rows
    # were folded into the base and lost their partition identity, so a
    # re-delivery could neither overwrite itself nor exclude its own
    # earlier write from the probe — refuse, like every folded store. A
    # fold that crashed mid-swap is finished first: the probe must see
    # the folded signatures, not a base still in staging.
    finish_swaps(spark, index_dir)
    check_not_below_horizon(spark, index_dir, batch_date, f"dedup-gate {mode} apply")
    matches = probe_batch(
        spark,
        index_dir,
        batch_docs,
        exclude_date=batch_date,
        mode=mode,
        before_date=before_date,
    ).persist()
    try:
        n_pairs = matches.count()
        n_flagged = matches.select("new_doc").distinct().count()
        if matches_dir is not None:
            replace_partitions(
                spark,
                matches_dir,
                matches.withColumn(PARTITION_COL, F.lit(batch_date)),
                [batch_date],
            )
        sig = _sig_table(batch_docs, mode).withColumn(
            PARTITION_COL, F.lit(batch_date)
        )
        replace_partitions(spark, index_dir, sig, [batch_date])
    finally:
        matches.unpersist()
    return {
        "date": batch_date,
        "batch_docs": batch_docs.count(),
        "dup_pairs": n_pairs,
        "flagged_docs": n_flagged,
    }


def compact_gate_index(spark: SparkSession, index_dir: str, keep_from: str) -> dict:
    """Date-fold for the signature index: every ``date=`` partition
    strictly below ``keep_from`` folds into the reserved base partition
    (``date=0000-00-00``). Probe results are unchanged — ``read_index``
    reads all partitions regardless of their identity, and each doc's
    (doc_id, sig) row lives in exactly one partition under the replay
    contract, so the merge is pure concatenation (pinned in
    tests/test_dedup_gate.py).

    Folding SPENDS the folded dates' replay keys: a folded batch's rows
    have lost their partition identity, so a replay could neither
    overwrite itself nor exclude its own earlier write from the probe —
    ``apply_batch`` refuses dates below the horizon. The as-of read
    (``before_date``) survives the fold: apply refuses any batch date
    below the horizon, so for every permitted date the base holds only
    strictly-earlier rows (BASE_KEY sorts below all real dates).

    Mode-agnostic: all three lanes share the (doc_id, sig) schema within
    an index directory, and an index belongs to ONE mode. Standard
    base_fold crash discipline (horizon marker first, staged swap,
    crashed swap finished by the next run)."""
    return base_fold(
        spark,
        index_dir,
        keep_from,
        op_name="dedup-gate compact",
        part_key=PARTITION_COL,
        base_key=BASE_KEY,
        subtables={"": lambda src: (src.select("doc_id", "sig"), [])},
    )


# ---------------------------------------------------------------------------
# Bucketed band-table variant — the "at 100 TB" layout the module docstring
# names, as code: the index is a catalog TABLE of (doc_id, sig, bkey) rows
# BUCKETED by the band key, so the daily probe's candidate join needs NO
# exchange on the index side — only the (tiny) batch shuffles; the stored
# corpus is read bucket-by-bucket in place. The storage trade the docstring
# prices ("storing band keys would triple the index") is taken deliberately
# here AND the signature rides each band row, so the agreement rescore is
# in-row arithmetic instead of two more joins against the index.
#
# Catalog note (standard Spark semantics, not ours): bucketing metadata
# lives in the session catalog, so cross-SESSION maintenance of this
# variant needs a persistent metastore (Hive/Glue/UC) — exactly the setup
# any production bucketed table requires. The single-node equivalent is
# shipped: get_spark(metastore_dir=...) / the CLI's
# `dedup-gate --bucketed-table NAME --metastore-dir DIR` wire an embedded
# Derby metastore + warehouse under DIR, and the layout's survival across
# process restarts (probe still one-exchange) is pinned by a two-JVM test
# (tests/test_metastore_gate.py). The directory-layout gate above stays
# the metastore-free default.
# ---------------------------------------------------------------------------

BUCKET_COUNT = 64


def _bands_with_sig(sig: DataFrame) -> DataFrame:
    """One row per (doc, band): (doc_id, sig, bkey) with the single join
    key ``bkey = 'j:band_key'`` — an exact string (no hash), so bucketed
    candidates are provably the directory gate's (j, band_key) pairs."""
    return sig.select(
        "doc_id",
        "sig",
        F.explode(F.sequence(F.lit(0), F.lit(NUM_BANDS - 1))).alias("j"),
    ).select(
        "doc_id",
        "sig",
        F.concat_ws(
            ":",
            F.col("j").cast("string"),
            F.array_join(
                F.transform(
                    F.slice("sig", F.col("j") * 4 + 1, 4), lambda x: x.cast("string")
                ),
                "-",
            ),
        ).alias("bkey"),
    )


def _agreement(new_sig_col, old_sig_col):
    """est_jaccard — the exact arithmetic of _rescore, in-row."""
    matches = F.size(
        F.filter(
            F.sequence(F.lit(1), F.lit(NUM_HASHES)),
            lambda i: F.element_at(new_sig_col, i) == F.element_at(old_sig_col, i),
        )
    )
    return matches.cast("double") / NUM_HASHES


def probe_batch_bucketed(
    spark: SparkSession,
    table_name: str,
    batch_docs: DataFrame,
    exclude_date: str | None = None,
) -> DataFrame:
    """The directory probe's output — (new_doc, dup_of, est_jaccard,
    match_kind) with the identical pair set and identical est values —
    against the bucketed band table. Plan shape: ONE exchange total on
    the index path (the batch's band rows hash to the table's buckets);
    the index side is a bucketed FileScan, never reshuffled, and the
    rescore is in-row (the signature rides the band row)."""
    # deliberately not persisted: the returned frame stays lazy (callers
    # pin its plan), and a .persist() here would outlive the call — the
    # directory probe makes the same choice for the same reason
    new_sig = _sig_table(batch_docs, "minhash")
    new_bands = _bands_with_sig(new_sig)

    if spark.catalog.tableExists(table_name):
        idx = spark.table(table_name)
        if exclude_date is not None:
            idx = idx.filter(F.col(PARTITION_COL) != exclude_date)
        nb = new_bands.alias("n")
        ob = idx.alias("o")
        cross = (
            nb.join(ob, F.col("n.bkey") == F.col("o.bkey"))
            .select(
                F.col("n.doc_id").alias("new_doc"),
                F.col("o.doc_id").alias("dup_of"),
                _agreement(F.col("n.sig"), F.col("o.sig")).alias("est_jaccard"),
            )
            .distinct()
            .filter(F.col("est_jaccard") >= EST_JACCARD_MIN)
            .withColumn("match_kind", F.lit("index"))
        )
    else:
        cross = None

    bands_only = minhash_band_keys(new_sig)
    a = bands_only.alias("a")
    b = bands_only.alias("b")
    within_pairs = (
        a.join(
            b,
            (F.col("a.j") == F.col("b.j"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") > F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("new_doc"), F.col("b.doc_id").alias("dup_of"))
        .distinct()
    )
    within = _rescore(within_pairs, new_sig, new_sig).withColumn(
        "match_kind", F.lit("batch")
    )
    return within if cross is None else cross.unionByName(within)


def apply_batch_bucketed(
    spark: SparkSession,
    table_name: str,
    batch_docs: DataFrame,
    batch_date: str,
    matches_dir: str | None = None,
) -> dict:
    """Gate one batch against the bucketed band table: probe (excluding
    the batch's own partition — replay-safe), optionally persist the flag
    table, then land the batch's band rows under ``date=batch_date``.
    First batch creates the table (partitioned by date, bucketed by bkey);
    replays overwrite ONLY their own partition via dynamic-partition
    insertInto — same idempotence contract as the directory gate."""
    matches = probe_batch_bucketed(
        spark, table_name, batch_docs, exclude_date=batch_date
    ).persist()
    try:
        n_pairs = matches.count()
        n_flagged = matches.select("new_doc").distinct().count()
        if matches_dir is not None:
            replace_partitions(
                spark,
                matches_dir,
                matches.withColumn(PARTITION_COL, F.lit(batch_date)),
                [batch_date],
            )
        rows = _bands_with_sig(_sig_table(batch_docs, "minhash")).withColumn(
            PARTITION_COL, F.lit(batch_date)
        )
        if not spark.catalog.tableExists(table_name):
            (
                rows.write.partitionBy(PARTITION_COL)
                .bucketBy(BUCKET_COUNT, "bkey")
                .sortBy("bkey")
                .format("parquet")
                .saveAsTable(table_name)
            )
        else:
            # dynamic mode: ONLY the partitions present in `rows` (this
            # batch's own date) are replaced — the writer-OPTION spelling
            # of this is ignored for bucketed insertInto, so guard the
            # session conf instead (measured, tools/ prototypes)
            key = "spark.sql.sources.partitionOverwriteMode"
            prev = spark.conf.get(key, None)
            spark.conf.set(key, "dynamic")
            try:
                rows.select("doc_id", "sig", "bkey", PARTITION_COL).write.mode(
                    "overwrite"
                ).insertInto(table_name)
            finally:
                if prev is None:
                    spark.conf.unset(key)
                else:
                    spark.conf.set(key, prev)
    finally:
        matches.unpersist()
    return {
        "date": batch_date,
        "batch_docs": batch_docs.count(),
        "dup_pairs": n_pairs,
        "flagged_docs": n_flagged,
    }
