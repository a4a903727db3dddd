"""Maintained corpus unigram model — the PRODUCTION form of
``text_unigram_surprisal`` (plans/llm_ops.py), which recomputes the
vocabulary from the whole corpus per run. This module PERSISTS the
unigram counts and lets each daily batch (a) extend the model by its own
counts and (b) be SCORED against the frozen model — the CCNet-style
quality gate as a maintained pipeline rather than a one-shot query.

Reference intent: the reference's daily loop touches only the new day's
files against its stored table (src/lambda_handler.py:38-102,
src/db_operations.py:29); applied to the LM-quality filter this means
the corpus is tokenized exactly once, on the day it arrives.

Table layout: a ``date=<batch>``-partitioned parquet table of
``(tok, cnt)`` — each batch's OWN token counts live in the batch's own
partition, and the model is the SUM across partitions. Addition is
associative and commutative, so:

  - N daily updates == one-shot corpus vocabulary, EXACTLY (integer
    counts; pinned in tests/test_vocab_model.py);
  - a replayed batch overwrites only its own partition
    (``replace_partitions``), so the update is idempotent by
    construction — the same batch-id-keyed sink idiom as the dedup
    gate's signature index and the streaming gap ledger;
  - compaction (``compact_vocab``) folds old partitions into the
    reserved base via the shared crash-guarded ``base_fold`` — the fold
    is a (tok, cnt) sum, exact by additivity. Folding SPENDS the folded
    keys: ``update_vocab`` refuses a batch date below the ``_horizon=``
    marker (a replayed old batch can no longer overwrite itself — the
    double-count hazard the refusal exists for), and replay-safe
    scoring refuses an ``exclude_date`` below the horizon (that date's
    contribution is no longer separable from the base).

Scoring semantics: ``score_batch`` scores documents against the model
AS PERSISTED (a frozen model — the scored batch's own tokens do not
shift the distribution, unlike the one-shot query which scores the
corpus against itself). Tokens the model has never seen take the
maximum surprisal the model can express: count 1, i.e.
``length(bin(N))`` bits — the standard "unseen = rarest" convention for
a count model without smoothing mass. When the model holds exactly the
scored corpus, every token is present with its full-corpus count and
the output row-equals the registered operator (pinned).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestion_lambda_spark.operators.base_fold import (
    BASE_KEY,
    base_fold,
    check_not_below_horizon,
    fold_horizon,
)
from data_ingestion_lambda_spark.operators.layout import (
    PARTITION_COL,
    hadoop_fs,
    partition_values,
    replace_partitions,
)
from data_ingestion_lambda_spark.operators.store_record import StoreRecord, report_rows
from data_ingestion_lambda_spark.plans.llm_ops import tokens


def _ngrams(order: int):
    """The n-gram column for one document's text: order 1 is the shared
    ``tokens`` expression; higher orders build space-joined windows
    IN-ROW from the token array (the registered bigram lane's
    construction, generalized) — one pass, no positional self-join.
    Guarded for short docs: Spark's ``sequence(1, 0)`` is DESCENDING
    and element_at(…, 0) an ANSI error, so fewer-than-order tokens
    yield an empty array."""
    if order == 1:
        return tokens("text")
    toks = tokens("text")
    parts = ", ".join(f"element_at(t, i + {k})" for k in range(order))
    gram = F.expr(
        f"transform(sequence(1, size(t) - {order - 1}),"
        f" i -> concat_ws(' ', {parts}))"
    )
    return F.when(F.size(toks) >= order, gram).otherwise(F.expr("array()"))


def _batch_counts(batch_docs: DataFrame, order: int = 1) -> DataFrame:
    """(tok, cnt) for one batch — the doc-local (doc, tok, tf) aggregate
    rolls up map-side before the token-keyed exchange; raw occurrences
    never shuffle (same shape as the registered operator's tf stage)."""
    d = batch_docs.select("doc_id", tokens("text").alias("t"), "text")
    return (
        d.select("doc_id", F.explode(_ngrams(order)).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tf"))
        .groupBy("tok")
        .agg(F.sum("tf").alias("cnt"))
    )


def _check_order_marker(spark: SparkSession, vocab_dir: str, order: int, create: bool) -> None:
    """The model's n-gram ORDER is part of its identity: scoring a bigram
    table as unigrams (or extending one with the other) silently
    corrupts every count, so the order is recorded as an empty
    ``_order=<n>`` marker directory (the feature store's _horizon idiom)
    and checked on every update/score. Legacy marker-less directories
    are unigram models (order 1)."""
    found = [int(v) for v in partition_values(spark, vocab_dir, "_order")]
    legacy = 1 if partition_values(spark, vocab_dir, PARTITION_COL) else None
    recorded = found[0] if found else legacy
    if recorded is not None and recorded != order:
        raise ValueError(
            f"vocab at {vocab_dir} is an order-{recorded} model; "
            f"refusing order-{order} access — one directory, one order"
        )
    if found:
        return
    if create and order != 1:
        fs, path_cls = hadoop_fs(spark, vocab_dir)
        fs.mkdirs(path_cls(f"{vocab_dir}/_order={order}"))


def update_vocab(
    spark: SparkSession,
    vocab_dir: str,
    batch_docs: DataFrame,
    batch_date: str,
    order: int = 1,
) -> dict:
    """Extend the model by one batch: the batch's own (tok, cnt) rows land
    under ``date=<batch_date>``. Re-running the same (batch, date)
    overwrites only that partition — idempotent. ``order`` > 1 maintains
    an N-GRAM model (e.g. 2 = the bigram LM of text_bigram_surprisal)
    in the identical layout; the order is recorded in the directory and
    mismatched access refuses."""
    check_not_below_horizon(spark, vocab_dir, batch_date, "update_vocab")
    _check_order_marker(spark, vocab_dir, order, create=True)
    counts = _batch_counts(batch_docs, order=order).withColumn(
        PARTITION_COL, F.lit(batch_date)
    )
    replace_partitions(spark, vocab_dir, counts, [batch_date])
    return {"date": batch_date, "batch_docs": batch_docs.count(), "order": order}


def compact_vocab(spark: SparkSession, vocab_dir: str, keep_from: str) -> dict:
    """Fold every batch partition strictly before ``keep_from`` (plus
    any existing base) into the reserved base partition. Exact by
    additivity: the fold is a (tok, cnt) sum, and ``read_vocab`` /
    ``score_batch`` read the SAME sum across whatever partitions exist
    — pinned row-equal pre/post fold in tests/test_store_compaction.py.
    Spends the folded keys (see ``update_vocab``'s refusal). Works for
    both keyings (CLI ISO dates, streamed ``b<id>`` keys)."""
    return base_fold(
        spark,
        vocab_dir,
        keep_from,
        op_name="compact_vocab",
        part_key=PARTITION_COL,
        base_key=BASE_KEY,
        subtables={
            "": lambda src: (
                src.groupBy("tok").agg(F.sum("cnt").cast("long").alias("cnt")),
                [],
            )
        },
    )


def read_vocab(
    spark: SparkSession, vocab_dir: str, exclude_date: str | None = None
) -> DataFrame:
    """The model: (tok, cnt) summed across batch partitions. ``exclude_date``
    drops one batch's contribution — used by replay-safe scoring, exactly
    like the dedup gate's own-partition exclusion."""
    dates = partition_values(spark, vocab_dir, PARTITION_COL)
    if exclude_date is not None:
        horizon = fold_horizon(spark, vocab_dir)
        if horizon is not None and exclude_date < horizon:
            raise ValueError(
                f"read_vocab: exclude_date {exclude_date} is below the "
                f"compaction horizon {horizon} — that batch's counts "
                "were folded into the base partition and can no longer "
                "be excluded; score without exclusion or rebuild"
            )
        dates = [d for d in dates if d != exclude_date]
    if not dates:
        raise ValueError(f"vocab at {vocab_dir} has no (remaining) partitions")
    df = spark.read.parquet(vocab_dir)
    if exclude_date is not None:
        # partition-pruned: the filter resolves on directory names
        df = df.filter(F.col(PARTITION_COL) != exclude_date)
    return df.groupBy("tok").agg(F.sum("cnt").alias("cnt"))


def score_batch(
    spark: SparkSession,
    vocab_dir: str,
    batch_docs: DataFrame,
    exclude_date: str | None = None,
    order: int = 1,
) -> DataFrame:
    """Per-document average surprisal of ``batch_docs`` under the persisted
    model: (doc_id, n_tokens, bits_sum, avg_bits_per_token) — the
    registered operator's exact columns and arithmetic (integer
    ``length(bin(N div cnt))`` bits, one IEEE division), with the model
    side read from the vocab table instead of recomputed. Unseen tokens
    score as count 1 (``length(bin(N))`` bits). Read-only.

    Plan shape: the batch tokenizes once into the doc-local tf aggregate;
    the model side ships only aggregated (tok, cnt) rows; the single join
    is token-keyed (the vocab is Heaps-sublinear in corpus size — AQE
    broadcasts it when it fits); N is ONE scalar to the driver."""
    _check_order_marker(spark, vocab_dir, order, create=False)
    vocab = read_vocab(spark, vocab_dir, exclude_date=exclude_date)
    n_tot = vocab.agg(F.sum("cnt")).collect()[0][0]  # scalar: one number
    rarity = vocab.select(
        "tok",
        F.length(F.bin(F.expr(f"CAST({n_tot} AS BIGINT) DIV cnt")))
        .cast("long")
        .alias("bits"),
    )
    unseen_bits = F.lit(len(bin(int(n_tot))) - 2).cast("long")  # length(bin(N DIV 1))
    tf = (
        batch_docs.select("doc_id", tokens("text").alias("t"), "text")
        .select("doc_id", F.explode(_ngrams(order)).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tf"))
    )
    return (
        tf.join(rarity, "tok", "left")
        .withColumn("bits", F.coalesce(F.col("bits"), unseen_bits))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.sum(F.col("tf") * F.col("bits")).alias("bits_sum"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "bits_sum",
            (F.col("bits_sum").cast("double") / F.col("n_tokens")).alias(
                "avg_bits_per_token"
            ),
        )
    )


def _check(args) -> str | None:
    if args.stream_source is not None and (args.score_only or args.score_out):
        return (
            "--stream-source only extends the model; scoring runs against the "
            "persisted counts via --batch --score-only"
        )
    if args.batch is not None and not args.score_only and args.date is None:
        return "--date is required unless --score-only"
    return None


def _batch(spark: SparkSession, vocab_dir: str, args, order: int = 1) -> dict:
    """Score the batch first, against the model without its own partition,
    so a replayed (batch, date) scores what the first run scored; then
    extend the model unless --score-only."""
    batch = spark.read.parquet(args.batch).select("doc_id", "text")
    report: dict = {"batch_docs": batch.count()}
    try:
        scored = score_batch(spark, vocab_dir, batch, exclude_date=args.date, order=order)
        report.update(report_rows(scored, "score_out", args.score_out, scored_docs=None))
    except ValueError as e:
        # only an empty model (the first batch) is benign; an order
        # mismatch must surface, not be reported as success
        if "no (remaining) partitions" not in str(e):
            raise
        report["scored_docs"] = None
    if not args.score_only:
        report.update(update_vocab(spark, vocab_dir, batch, args.date, order=order))
    return report


STORE = StoreRecord(
    "vocab", update_vocab, compact_vocab,
    "the n-gram model stores (token, count) totals with no per-document provenance",
    columns=("doc_id", "text"), stream_schema="doc_id bigint, text string",
    needs=("batch", "stream_source", "compact_keep_from"), paired=False,
    dir_flag="vocab", opts=lambda args: {"order": args.order}, check=_check, batch=_batch,
)
