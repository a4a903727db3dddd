"""Maintained DSIR model store — the PRODUCTION form of
``text_dsir_weights`` (plans/llm_ops.py): the two hashed-bigram bucket
models (source and target counts) maintained as a day-partitioned
ledger, so scoring a NEW document batch never re-tokenizes the corpus.

Why the ledger is exact under any split: the model is a fixed
1024-bucket grid of two integer counts, and counts of a union are the
BUCKET-WISE SUM of the parts' counts — strictly additive like the CMS
grid, so N daily applications followed by a read-side sum equal the
one-shot stats over everything, and scores computed from the folded
model are IDENTICAL to the one-shot lane's (both pinned in
tests/test_dsir_store.py — the score depends on the corpus only through
the stats, which the fold reproduces exactly).

Table layout: ``date=<batch>``-partitioned parquet of
(bucket, cnt_s, cnt_t) rows, <= 1024 per partition — the batch-id-keyed
sink idiom (replay overwrites only itself; idempotent). The fold is a
<= 1024 x |batches| row aggregate bounded by the calendar; scoring joins
the folded 1024-row model broadcast against the batch's own features.

Reference intent: the reference's daily loop touches only the new day's
files against stored state (src/lambda_handler.py:38-102); applied to
data selection this means each arriving batch both UPDATES the model
(its counts land once) and can be SCORED under the model as of any
fold, without ever re-reading prior batches' text.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestion_lambda_spark.operators.base_fold import (
    BASE_KEY,
    base_fold,
    check_not_below_horizon,
)
from data_ingestion_lambda_spark.operators.cms_store import check_keying_marker
from data_ingestion_lambda_spark.operators.layout import (
    hadoop_fs,
    ledger_keying,
    partition_values,
    replace_partitions,
)
from data_ingestion_lambda_spark.plans.llm_ops import (
    dsir_bits,
    dsir_features,
    dsir_score,
    dsir_stats,
)


def _with_is_t(docs: DataFrame, target_lang: str) -> DataFrame:
    return docs.select(
        "doc_id", (F.col("lang") == target_lang).alias("is_t"), "text"
    )


def _check_target_marker(
    spark: SparkSession, index_dir: str, target_lang: str
) -> None:
    """The TARGET slice is part of the model's identity: cnt_t columns
    counted against different targets sum into a meaningless mixture,
    so the target is recorded as an empty ``_target=<lang>`` marker
    directory (the vocab ``_order`` idiom) and checked on every apply."""
    found = partition_values(spark, index_dir, "_target")
    if found and found[0] != target_lang:
        raise ValueError(
            f"dsir store at {index_dir} models target {found[0]!r}; "
            f"refusing a {target_lang!r}-targeted apply — one "
            "directory, one target"
        )
    if found:
        return
    fs, path_cls = hadoop_fs(spark, index_dir)
    fs.mkdirs(path_cls(f"{index_dir}/_target={target_lang}"))


def apply_dsir_batch(
    spark: SparkSession,
    index_dir: str,
    docs: DataFrame,
    batch_date: str,
    target_lang: str = "en",
) -> dict:
    """Land one batch's bucket counts under ``date=<batch_date>``.
    Idempotent per (batch, date); refuses an ``ingest_batch=``-keyed
    index (marker check shared with the CMS store)."""
    _dt.date.fromisoformat(batch_date)
    check_keying_marker(spark, index_dir, "date")
    _check_target_marker(spark, index_dir, target_lang)
    check_not_below_horizon(spark, index_dir, batch_date, "apply_dsir_batch")
    stats = dsir_stats(dsir_features(_with_is_t(docs, target_lang))).withColumn(
        "date", F.lit(batch_date)
    )
    replace_partitions(spark, index_dir, stats, [batch_date])
    return {"index": index_dir, "date": batch_date}


def compact_dsir_store(
    spark: SparkSession, index_dir: str, keep_from: str
) -> dict:
    """Fold old batch partitions into the reserved base: counts of a
    union are the BUCKET-WISE SUM of the parts' counts, so the fold is
    a (bucket, Σcnt_s, Σcnt_t) rollup and ``read_dsir_stats`` — hence
    every score — is unchanged (pinned). The base is ≤1024 rows. The
    target marker is untouched (apply-time refusal keeps one target per
    directory). Spends the folded keys; both keyings supported."""
    return base_fold(
        spark,
        index_dir,
        keep_from,
        op_name="compact_dsir_store",
        part_key=ledger_keying(spark, index_dir, "date"),
        base_key=BASE_KEY,
        subtables={
            "": lambda src: (
                src.groupBy("bucket").agg(
                    F.sum("cnt_s").cast("long").alias("cnt_s"),
                    F.sum("cnt_t").cast("long").alias("cnt_t"),
                ),
                [],
            )
        },
    )


def read_dsir_stats(spark: SparkSession, index_dir: str) -> DataFrame:
    """The current model counts: bucket-wise sum across batch
    partitions — exactly the one-shot stats over every applied doc."""
    return (
        spark.read.parquet(index_dir)
        .drop("date", "ingest_batch")
        .groupBy("bucket")
        .agg(
            F.sum("cnt_s").cast("long").alias("cnt_s"),
            F.sum("cnt_t").cast("long").alias("cnt_t"),
        )
    )


def score_docs(
    spark: SparkSession,
    index_dir: str,
    docs: DataFrame,
    target_lang: str = "en",
) -> DataFrame:
    """Score a (doc_id, lang, text) batch under the CURRENT folded
    model — the lane's own scoring path over the ledger's stats, so
    store and lane cannot diverge. Cost: the batch's features plus a
    1024-row model fold; prior batches' text is never re-read."""
    stats = read_dsir_stats(spark, index_dir)
    n_s, n_t = (
        int(x) for x in stats.agg(F.sum("cnt_s"), F.sum("cnt_t")).collect()[0]
    )
    # DENSIFY to all buckets before computing bits: a NEW batch hashes
    # into buckets the ledger has never seen, and dsir_score's inner
    # join would silently drop those features (review r9) — the add-1
    # smoothing exists precisely so absent buckets score as cnt=0 rows.
    from data_ingestion_lambda_spark.plans.llm_ops import _DSIR_B

    dense = (
        spark.range(_DSIR_B)
        .select(F.col("id").cast("long").alias("bucket"))
        .join(stats, "bucket", "left")
        .select(
            "bucket",
            F.coalesce("cnt_s", F.lit(0)).cast("long").alias("cnt_s"),
            F.coalesce("cnt_t", F.lit(0)).cast("long").alias("cnt_t"),
        )
    )
    return dsir_score(
        dsir_features(_with_is_t(docs, target_lang)),
        dsir_bits(dense, n_s, n_t),
    )
