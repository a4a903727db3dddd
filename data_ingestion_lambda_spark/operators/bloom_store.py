"""Maintained Bloom-filter store — the PRODUCTION form of
``dedup_bloom_screen`` (plans/llm_ops.py): a membership blocklist that
GROWS daily (new benchmark releases, new opt-out batches, new banned
URLs) without ever rebuilding, because a Bloom filter of a union is the
BITWISE OR of the parts' filters.

Why the ledger is exact under any split: the filter is 128 BIGINT words
and ``bit_or`` is associative, commutative and IDEMPOTENT — so N daily
applications followed by a read-side bit_or equals the one-shot filter
over every member EXACTLY (pinned in tests/test_bloom_store.py), and a
replayed batch is a true no-op even at the bit level (idempotence is
stronger than the CMS store's additivity, which needs replay to
overwrite its own partition to stay exact — this store gets that
protection too, but would survive without it).

Table layout: ``date=<batch>``-partitioned parquet of (word_idx, word)
rows, <= 128 per partition — the batch-id-keyed sink idiom (replay
overwrites only itself). The fold is a <=128*|batches| row aggregate,
bounded by the calendar, never by member count; the probe side is the
lane's own ``bloom_screen`` against the folded words.

Reference intent: the reference's daily loop touches only the new day's
files against stored state (src/lambda_handler.py:38-102); applied to a
blocklist this means each member batch is hashed into the filter once,
on the day it lands, and screening never re-reads member text.
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
    KEYINGS,
    hadoop_fs,
    ledger_keying,
    partition_values,
    replace_partitions,
)
from data_ingestion_lambda_spark.plans.llm_ops import (
    _BLOOM_K,
    _BLOOM_M,
    bloom_check_sizing,
    bloom_screen,
    bloom_words,
    polyhash,
)


def _fps(members: DataFrame) -> DataFrame:
    """Distinct polynomial text fingerprints for a (.., text) DataFrame."""
    return members.select(polyhash(F.col("text")).alias("fp")).distinct()


def _check_sizing_marker(
    spark: SparkSession, index_dir: str, m: int, k: int
) -> None:
    """The (m, k) sizing is part of the filter's identity: bit_or folds
    of words built under different m silently corrupt (positions mod
    4096 OR'd into a 65536-bit layout hit the wrong words), so the
    sizing is recorded as an empty ``_sizing=m<m>-k<k>`` marker
    directory (the vocab ``_order=`` / dsir ``_target=`` idiom) and
    checked on every apply. VERDICT r9 #2."""
    want = f"_sizing=m{m}-k{k}"
    found = [f"_sizing={v}" for v in partition_values(spark, index_dir, "_sizing")]
    if found and found[0] != want:
        raise ValueError(
            f"bloom store at {index_dir} is sized {found[0]!r}; "
            f"refusing a {want!r} apply — folding words of mismatched "
            "sizings silently corrupts the filter"
        )
    if found:
        return
    # No marker but existing data partitions: a legacy (pre-marker)
    # store is implicitly (4096, 3) — read_sizing documents exactly
    # that — so stamping ANY other sizing onto it would land
    # mixed-m words the marker exists to forbid (review r10).
    has_data = any(partition_values(spark, index_dir, key) for key in KEYINGS)
    if has_data and (m, k) != (_BLOOM_M, _BLOOM_K):
        raise ValueError(
            f"bloom store at {index_dir} predates the sizing marker "
            f"and is implicitly sized m{_BLOOM_M}-k{_BLOOM_K}; "
            f"refusing a {want!r} apply — rebuild the store to resize"
        )
    fs, path_cls = hadoop_fs(spark, index_dir)
    fs.mkdirs(path_cls(f"{index_dir}/{want}"))


def read_sizing(spark: SparkSession, index_dir: str) -> tuple[int, int]:
    """(m, k) recorded in the store's sizing marker; stores written
    before the marker existed default to the original (4096, 3)."""
    for v in partition_values(spark, index_dir, "_sizing"):
        if v.startswith("m"):
            m_part, k_part = v.removeprefix("m").split("-k", 1)
            return int(m_part), int(k_part)
    return _BLOOM_M, _BLOOM_K


def apply_bloom_batch(
    spark: SparkSession,
    index_dir: str,
    members: DataFrame,
    batch_date: str,
    m: int = _BLOOM_M,
    k: int = _BLOOM_K,
) -> dict:
    """Hash one member batch's texts into filter words and land them
    under ``date=<batch_date>``. Idempotent per (batch, date); refuses
    an index keyed by the streaming front's ``ingest_batch=`` and an
    index sized differently from (m, k) — one directory, one sizing."""
    _dt.date.fromisoformat(batch_date)
    bloom_check_sizing(m, k)
    check_keying_marker(spark, index_dir, "date")
    _check_sizing_marker(spark, index_dir, m, k)
    check_not_below_horizon(spark, index_dir, batch_date, "apply_bloom_batch")
    words = bloom_words(_fps(members), m, k).withColumn("date", F.lit(batch_date))
    replace_partitions(spark, index_dir, words, [batch_date])
    return {"index": index_dir, "date": batch_date, "m": m, "k": k}


def compact_bloom_store(
    spark: SparkSession, index_dir: str, keep_from: str
) -> dict:
    """Fold old batch partitions into the reserved base: the filter of
    a union is the BITWISE OR of the parts' words, so the fold is a
    (word_idx, bit_or) rollup and ``read_bloom`` / ``screen_docs`` are
    bit-identical before and after (pinned). The base is ≤ m/32 rows.
    The sizing marker is untouched (folded words were all built under
    it — the apply-time refusal guarantees that). Spends the folded
    keys; both keyings supported via the ``_keyed_by=`` marker."""
    return base_fold(
        spark,
        index_dir,
        keep_from,
        op_name="compact_bloom_store",
        part_key=ledger_keying(spark, index_dir, "date"),
        base_key=BASE_KEY,
        subtables={
            "": lambda src: (
                src.groupBy("word_idx").agg(F.bit_or("word").alias("word")),
                [],
            )
        },
    )


def read_bloom(spark: SparkSession, index_dir: str) -> DataFrame:
    """The current filter: bitwise-OR fold across batch partitions —
    exactly the one-shot filter over every applied member. Works over
    both ledger keyings (CLI ``date=`` and a streaming front's
    ``ingest_batch=``)."""
    return (
        spark.read.parquet(index_dir)
        .drop("date", "ingest_batch")
        .groupBy("word_idx")
        .agg(F.bit_or("word").alias("word"))
    )


def screen_docs(
    spark: SparkSession, index_dir: str, docs: DataFrame
) -> DataFrame:
    """(doc_id, bloom_hit) for probe docs (doc_id, text) against the
    folded filter — the lane's own probe path at the store's RECORDED
    sizing (probing with the wrong m/k would be silent garbage), so
    store and lane cannot diverge. No false negatives over every member
    ever applied."""
    m, k = read_sizing(spark, index_dir)
    probes = docs.select("doc_id", polyhash(F.col("text")).alias("fp"))
    return bloom_screen(probes, read_bloom(spark, index_dir), m, k)
