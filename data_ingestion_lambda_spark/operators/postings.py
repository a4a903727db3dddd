"""Maintained BM25 postings index — the PRODUCTION form of
``search_bm25_topk`` (plans/retrieval.py), which re-tokenizes the whole
corpus and rebuilds tf/df/dl statistics on every run. This module
PERSISTS the inverted index and lets daily document batches extend it;
queries pay query-term postings only, never a corpus re-scan.

Layout (three tables under one index directory, all date-partitioned by
batch via ``replace_partitions`` — the batch-id-keyed commit idiom
shared with the dedup gate, vocab model and ANN index; a replayed batch
overwrites only itself in each table, so appends are idempotent):

  - ``{index}/postings`` — (tok, doc_id, tf) rows, additionally
    partitioned by ``bucket = pmod(xxhash64(tok), 64)`` UNDER the date:
    a query collects its terms' bucket ids (bounded by the bucket
    count) and partition-prunes the postings scan to those directories
    — the ANN index's layout-as-index trick applied to text. With
    short keyword queries the pruning is sharp; doc-as-query bags
    touch more buckets (documented — the bucket count is the knob).
  - ``{index}/doclen`` — (doc_id, dl) rows: the per-document lengths
    the saturation term needs, joined per candidate.
  - ``{index}/stats`` — ONE (n_docs, t_tokens) row per batch
    partition: the corpus scalars as read-side SUMs over #batches rows
    (the vocab model's additive-counts idiom), never a corpus scan.

Statistics are exact under the one-batch-per-doc contract (each doc_id
arrives in exactly one batch; replays overwrite): df(t) is then simply
the postings row count for ``t`` across partitions, and N/T are sums of
per-batch scalars — all integer addition, associative, so N daily
updates equal the one-shot corpus statistics EXACTLY.

Scoring: ``search_topk`` scores against the index AS PERSISTED (frozen
corpus statistics — the vocab model's frozen-scoring stance) with the
IDENTICAL scaled-long arithmetic as the registered query — literally
the same column expression (``bm25_contribution``), imported, so
equality is by construction. Pinned in tests/test_postings_index.py:
N-day maintained search == one-shot ``search_bm25_topk`` to the last
bit, postings/doclen row-equal the one-shot aggregates, replays are
no-ops, and the probe's postings scan partition-prunes on bucket.

Compaction (r10, VERDICT r9 #3): the per-day layout adds 64 bucket dirs
per day under ``postings`` (+1 each under doclen/stats) — ~70k dirs in
three years. Reads are flat in ROWS, but object-store LIST and Spark's
file-index build grow with directory count, so
``compact_postings_index`` folds every date partition strictly before a
``keep_from`` horizon into the reserved base partition
``date=0000-00-00`` (the feature store's crash-guarded base-fold:
``_horizon=`` marker recorded BEFORE staging, then the one staged
partition swap, whose crashes the next run finishes). The fold is exact by the
one-batch-per-doc contract: postings/doclen rows are DISJOINT across
dates (plain concatenation), stats rows are additive (one summed row) —
so post-compaction search is row-equal to pre-compaction search, pinned
by re-running the one-shot equality after a fold. Folding SPENDS the
replay keys of folded dates; ``update_postings`` refuses a batch_date
below the horizon (its original rows are merged into the base, so a
replay would double-count instead of overwriting itself).
"""

from __future__ import annotations


from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestion_lambda_spark.operators.base_fold import base_fold, fold_horizon
from data_ingestion_lambda_spark.operators.layout import (
    PARTITION_COL,
    hadoop_fs,
    replace_partitions,
)
from data_ingestion_lambda_spark.plans.llm_ops import tokens
from data_ingestion_lambda_spark.plans.retrieval import (
    _SCALE,
    TOP_K,
    bm25_contribution,
)

N_BUCKETS = 64
BASE_DATE = "0000-00-00"  # reserved fold target (feature store's idiom)
_SUBTABLES = ("postings", "doclen", "stats")


def _bucket(tok_col) -> Column:
    return F.pmod(F.xxhash64(tok_col), F.lit(N_BUCKETS)).cast("int")


def _tf_dl(batch_docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    tf = (
        batch_docs.select("doc_id", F.explode(tokens("text")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tf"))
    )
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    return tf, dl


def update_postings(
    spark: SparkSession, index_dir: str, batch_docs: DataFrame, batch_date: str
) -> dict:
    """Tokenize ONE batch (the only tokenization its documents ever get)
    and land its postings/doclen/stats rows under ``date=<batch_date>``.
    Refuses a batch_date below the compaction horizon: those dates'
    replay keys are SPENT — their original rows were folded into the
    base, so a re-delivery would double-count instead of overwriting
    its own partition. The partition key is an ISO date from the CLI
    path or a zero-padded ``b<id>`` batch key from the streaming front
    (``run_postings_update_available_now``) — both order
    lexicographically within their scheme, which is what the horizon
    compare needs; one index sticks to one scheme."""
    if not batch_date or "/" in batch_date or "=" in batch_date:
        raise ValueError(f"update_postings: bad batch key {batch_date!r}")
    horizon = fold_horizon(spark, index_dir)
    if horizon is not None and batch_date < horizon:
        raise ValueError(
            f"update_postings: batch_date {batch_date} is below the "
            f"compaction horizon {horizon} — that date was folded into "
            f"the base partition and its replay key is spent; re-deliver "
            "under a current date or rebuild the index"
        )
    tf, dl = _tf_dl(batch_docs)
    tf = tf.persist()
    try:
        replace_partitions(
            spark,
            f"{index_dir}/postings",
            tf.withColumn("bucket", _bucket(F.col("tok"))).withColumn(
                PARTITION_COL, F.lit(batch_date)
            ),
            [batch_date],
            extra_partition_cols=("bucket",),
        )
        dl = dl.persist()
        try:
            replace_partitions(
                spark,
                f"{index_dir}/doclen",
                dl.withColumn(PARTITION_COL, F.lit(batch_date)),
                [batch_date],
            )
            stats = dl.agg(
                F.count("*").alias("n_docs"),
                F.sum("dl").cast("long").alias("t_tokens"),
            ).withColumn(PARTITION_COL, F.lit(batch_date))
            replace_partitions(spark, f"{index_dir}/stats", stats, [batch_date])
            n = dl.count()
        finally:
            dl.unpersist()
    finally:
        tf.unpersist()
    return {"date": batch_date, "batch_docs": n}


def read_stats(spark: SparkSession, index_dir: str) -> tuple[int, int]:
    """(N, T) as read-side sums over the per-batch scalar rows."""
    row = (
        spark.read.parquet(f"{index_dir}/stats")
        .agg(F.sum("n_docs").alias("n"), F.sum("t_tokens").alias("t"))
        .collect()[0]
    )
    return int(row["n"]), int(row["t"])


def search_topk(
    spark: SparkSession, index_dir: str, query_docs: DataFrame, k: int = TOP_K
) -> DataFrame:
    """Top-k BM25 matches for ``query_docs`` (query_id, text) against
    the maintained index. Cost: the query bag's bucket ids are collected
    (bounded by N_BUCKETS) to partition-prune the postings scan; df for
    the query's terms comes from that pruned scan; dl joins per
    candidate; N/T are two scalar sums over #batches rows. No corpus
    text is touched."""
    q = query_docs.select(
        "query_id", F.explode(tokens("text")).alias("tok")
    ).distinct()
    # Bounded collect: at most N_BUCKETS distinct values — it exists to
    # turn the query's term buckets into a literal IN-list the postings
    # scan can partition-prune on (the ANN index's probed-cells idiom).
    buckets = sorted(
        r["b"] for r in q.select(_bucket(F.col("tok")).alias("b")).distinct().collect()
    )
    posts = spark.read.parquet(f"{index_dir}/postings").filter(
        F.col("bucket").isin(buckets)
    )
    qtoks = q.select("tok").distinct()
    # df over the pruned scan: every posting row for a query term is
    # one (tok, doc) pair; docs are unique across batch partitions
    dfq = (
        posts.join(F.broadcast(qtoks), "tok")
        .groupBy("tok")
        .agg(F.count("*").alias("df"))
    )
    n_docs, t_tokens = read_stats(spark, index_dir)
    dl = spark.read.parquet(f"{index_dir}/doclen").select("doc_id", "dl")
    cand = (
        F.broadcast(q)
        .join(posts, "tok")
        .filter(F.col("doc_id") != F.col("query_id"))
        .join(F.broadcast(dfq), "tok")
        .join(dl, "doc_id")
    )
    scored = cand.groupBy("query_id", "doc_id").agg(
        F.sum(bm25_contribution(n_docs, t_tokens)).alias("score_n")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score_n"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("doc_id").alias("match_id"),
            (F.col("score_n").cast("double") / F.lit(float(_SCALE))).alias("bm25"),
            "rank",
        )
    )


def count_partition_dirs(spark: SparkSession, index_dir: str) -> int:
    """Total leaf partition directories across the three sub-tables —
    the LIST-cost number compaction exists to collapse (bucket dirs
    count individually under postings)."""
    fs, path_cls = hadoop_fs(spark, index_dir)
    total = 0
    for sub in _SUBTABLES:
        root = path_cls(f"{index_dir}/{sub}")
        if not fs.exists(root):
            continue
        for st in fs.listStatus(root):
            if not (
                st.isDirectory() and st.getPath().getName().startswith("date=")
            ):
                continue
            kids = [
                k
                for k in fs.listStatus(st.getPath())
                if k.isDirectory() and "=" in k.getPath().getName()
            ]
            total += len(kids) if kids else 1
    return total


def compact_postings_index(
    spark: SparkSession, index_dir: str, keep_from: str
) -> dict:
    """Fold every date partition STRICTLY BEFORE ``keep_from`` (plus any
    existing base) of all three sub-tables into the reserved base
    partition ``date=0000-00-00``; returns per-sub-table folded-dir
    counts. Exact by construction: postings/doclen rows are disjoint
    across dates under the one-batch-per-doc contract (the fold is a
    concatenation), and stats rows sum to one base row — read-side
    N/T and every BM25 score are unchanged (pinned by re-running the
    one-shot equality test after a fold).

    Crash-safety is the feature store's ledger discipline, per
    sub-table: the ``_horizon=`` marker is advanced FIRST (a too-high
    horizon after a crash only refuses applies it could have accepted,
    never double-counts one); each sub-table then swaps its full merged
    base in through the one staged partition swap, and the next run
    finishes a swap a crash interrupted before it reads the sub-table,
    so it never recompacts a partial table. A crash between sub-tables leaves the finished ones
    folded and the rest still date-keyed; a re-run folds the remainder
    (the fold set always includes the existing base). ``keep_from`` is
    an ISO date for a CLI-keyed index or a ``b<id>`` key for a streamed
    one — lexicographic within one scheme, like the apply check.

    Delegates to the shared ``base_fold`` (operators/base_fold.py) —
    review r10 collapsed the per-store compaction copies, which had
    already drifted (the empty-partition guard lived only in the
    attribution copy)."""
    return base_fold(
        spark,
        index_dir,
        keep_from,
        op_name="compact_postings_index",
        part_key="date",
        base_key=BASE_DATE,
        subtables={
            # postings/doclen rows are disjoint across dates (one batch
            # per doc) — the fold is a concatenation; stats rows are
            # additive scalars -> one base row.
            "postings": lambda src: (
                src.select("tok", "doc_id", "tf", "bucket"),
                ["bucket"],
            ),
            "doclen": lambda src: (src.select("doc_id", "dl"), []),
            "stats": lambda src: (
                src.agg(
                    F.sum("n_docs").cast("long").alias("n_docs"),
                    F.sum("t_tokens").cast("long").alias("t_tokens"),
                ),
                [],
            ),
        },
    )
