"""Maintained IVF-ANN index — the PRODUCTION form of ``ann_ivf_topk``
(plans/similarity.py), which retrains the coarse quantizer and
re-assigns the whole corpus on every run. This module PERSISTS both
halves of the IVF structure and lets daily vector batches extend it:

  - ``{index}/centroids`` — the FROZEN coarse quantizer: the 16
    (cent_id, cv, cnrm) rows ``_train_ivf_centroids`` produces, written
    once by ``train_index`` ("train offline, ship the quantizer" — the
    same frozen-model discipline as the vocab model's persisted counts).
  - ``{index}/cells`` — the inverted file: (vec_id, ve, nrm, cell) rows
    partitioned by ``date=<batch>/cell=<c>``. The DATE level is the
    commit/replay unit (``replace_partitions``: a replayed batch
    overwrites only itself — the same batch-id-keyed sink idiom as the
    dedup gate's signature index); the CELL level under it is the read
    path — a query probing n_probe of the 16 cells partition-prunes to
    those directories, so probe I/O is ~n_probe/n_cells of the corpus
    REGARDLESS of corpus size. That pruning IS the inverted file,
    expressed as storage layout instead of an in-memory posting list.

Reference intent: the reference's daily loop touches only the new day's
files against its stored table (src/lambda_handler.py:38-102,
src/db_operations.py:29); applied to similarity search this means each
vector is assigned to its cell exactly once, on the day it arrives, and
queries never scan vectors outside their probed cells.

Equivalence contract (pinned in tests/test_ann_index.py): with the
quantizer trained on the full corpus, appending the corpus in N daily
batches and probing yields EXACTLY ``ann_ivf_topk``'s rows — cell
assignment is a per-vector argmax against the frozen centroids
(batch-split-invariant by construction), and the cosine rescore is the
same unrolled-dot arithmetic, so even the double-precision values
match. Appends are replay-idempotent; the stored assignment table
row-equals the one-shot assignment pass.

Scale: assignment is a broadcast cross-join against 16 centroid rows
inside the batch's scan stage; the probe collects its candidate CELL
IDS (bounded by the centroid count, never by data) to drive static
partition pruning, then scores only the pruned scan. At 10^10 vectors
the quantizer grows to ~2^14 cells trained on a sample, and the layout
holds: one directory per cell, queries read n_probe of them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestion_lambda_spark.operators.base_fold import (
    BASE_KEY,
    base_fold,
    check_not_below_horizon,
)
from data_ingestion_lambda_spark.operators.layout import (
    PARTITION_COL,
    hadoop_fs,
    partition_values,
    replace_partitions,
)
from data_ingestion_lambda_spark.operators.store_record import (
    Action,
    StoreRecord,
    StoreSpec,
    SubSpec,
    report_rows,
)
from data_ingestion_lambda_spark.plans.similarity import (
    TOP_K,
    _HARD_NEG_CEIL,
    _N_CENTROIDS,
    _N_PROBE,
    _train_ivf_centroids,
    as_double,
    dot,
)


def _with_norm(vectors: DataFrame) -> DataFrame:
    """(vec_id, ve, nrm) from a (vec_id, embedding) frame — the same
    projection ``ann_ivf_topk`` opens with."""
    return vectors.select(
        "vec_id", as_double(F.col("embedding")).alias("ve")
    ).select("vec_id", "ve", F.sqrt(dot("ve", "ve")).alias("nrm"))


def _check_sizing_marker(
    spark: SparkSession, index_dir: str, n_cells: int, create: bool
) -> None:
    """The quantizer's CELL COUNT is part of the index's identity
    (VERDICT r10 #4, the Bloom (m,k) template): assignments made under
    one quantizer probed under another's sizing are silent garbage, so
    the sizing is recorded as an empty ``_sizing=c<n>`` marker
    directory and mismatched access REFUSES — retraining at a new size
    lands a NEW index dir (``retrain_index``). Legacy marker-less
    directories are the original 16-cell layout."""
    want = f"_sizing=c{n_cells}"
    fs, path_cls = hadoop_fs(spark, index_dir)
    found = [f"_sizing={v}" for v in partition_values(spark, index_dir, "_sizing")]
    recorded = found[0] if found else (
        f"_sizing=c{_N_CENTROIDS}"
        if fs.exists(path_cls(f"{index_dir}/centroids"))
        else None
    )
    if recorded is not None and recorded != want:
        raise ValueError(
            f"ann index at {index_dir} is sized {recorded!r}; refusing "
            f"{want!r} access — one directory, one quantizer sizing "
            "(retrain into a NEW directory: retrain_index)"
        )
    if found:
        return
    if create:
        fs.mkdirs(path_cls(f"{index_dir}/{want}"))


def read_sizing(spark: SparkSession, index_dir: str) -> int:
    """Cell count recorded in the index's sizing marker; indexes written
    before the marker existed are the original 16-cell layout."""
    for v in partition_values(spark, index_dir, "_sizing"):
        if v.startswith("c"):
            return int(v.removeprefix("c"))
    return _N_CENTROIDS


def train_index(
    spark: SparkSession,
    index_dir: str,
    vectors: DataFrame,
    n_cells: int = _N_CENTROIDS,
) -> dict:
    """Train the coarse quantizer on ``vectors`` and freeze it under
    ``{index}/centroids``. Deliberately NOT incremental: retraining is
    an offline decision (it changes every assignment), so a new model
    means a new index directory — the vocab model's frozen-scoring
    stance, applied to the quantizer. ``n_cells`` sizes the quantizer
    (recorded in the ``_sizing=`` marker; a dir trained at another size
    refuses — use ``retrain_index`` to grow the cell count)."""
    if n_cells < 1:
        raise ValueError(f"train_index: n_cells must be >= 1, got {n_cells}")
    # Retraining IN PLACE over live cell assignments is refused outright:
    # the new centroids would silently invalidate every stored (vec_id,
    # cell) row while the sizing marker still matched, so probes would
    # return wrong neighbors with no refusal left to catch it (this also
    # keeps the collapse cleanup below safe — it only ever runs on a
    # directory without assignments, so deleting marker+centroids cannot
    # strand stale cells behind a fresh marker).
    fs, path_cls = hadoop_fs(spark, index_dir)
    if fs.exists(path_cls(f"{index_dir}/cells")):
        raise ValueError(
            f"train_index: {index_dir} already holds cell assignments — "
            "retraining in place would orphan them under a new quantizer; "
            "use retrain_index into a NEW directory (blue/green), or "
            "remove the cells table first and re-append every batch"
        )
    vn = _with_norm(vectors)
    # The k-means seed set is vec_id-KEYED (_train_ivf_centroids seeds
    # from vec_id < n_cells so the DuckDB oracle can reproduce it) —
    # sparse or non-zero-based ids would silently seed fewer (possibly
    # zero) centroids while the _sizing marker records the requested
    # count, so the seed population is counted and refused up front,
    # BEFORE the marker lands (a refused train must leave the directory
    # exactly as it found it — the _sizing one-directory-one-sizing
    # refusal would otherwise block the retry the message recommends).
    n_seed = vn.filter(F.col("vec_id") < n_cells).count()
    if n_seed < n_cells:
        raise ValueError(
            f"train_index: only {n_seed} vectors have vec_id < {n_cells} "
            f"— the quantizer seeds from the id range [0, {n_cells}), so "
            "sparse or non-zero-based vec_ids would train a degenerate "
            "quantizer under a marker claiming the full count; re-key "
            "the corpus to dense 0-based vec_ids or lower n_cells"
        )
    _check_sizing_marker(spark, index_dir, n_cells, create=True)
    cent = _train_ivf_centroids(spark, vn, n_cells=n_cells)
    cent.write.mode("overwrite").parquet(f"{index_dir}/centroids")
    n = spark.read.parquet(f"{index_dir}/centroids").count()
    if n != n_cells:
        # Empty-cell collapse: a Lloyd iteration drops any cell no vector
        # argmaxes to, so the trained quantizer can come out smaller than
        # requested. The marker would then overstate; the written
        # centroids are degenerate. Remove BOTH before refusing, so the
        # directory is honestly untrained again and a corrected retrain
        # is not blocked by the sizing refusal (a pre-existing quantizer
        # was already overwritten above, so there is no good state left
        # to preserve; the cells-exists refusal above guarantees no
        # assignments can be stranded by this cleanup).
        fs.delete(path_cls(f"{index_dir}/centroids"), True)
        fs.delete(path_cls(f"{index_dir}/_sizing=c{n_cells}"), True)
        raise ValueError(
            f"train_index: trained quantizer holds {n} centroids, not the "
            f"requested {n_cells} (empty-cell collapse during k-means); "
            "the degenerate centroids and the sizing marker have been "
            f"removed — re-run at n_cells={n} (or rebuild with different "
            "corpus/seeding); any existing cell assignments belong to the "
            "overwritten quantizer and need re-appending after retrain"
        )
    return {"centroids": n, "n_cells": n_cells}


def read_centroids(spark: SparkSession, index_dir: str) -> DataFrame:
    return spark.read.parquet(f"{index_dir}/centroids")


def _assign(vectors: DataFrame, cent: DataFrame) -> DataFrame:
    """(vec_id, ve, nrm, cell) — per-vector argmax against the frozen
    centroids, the identical (ccos DESC, cell ASC) total order and
    map-side max_by shape as the one-shot operator's assignment pass."""
    ccos = (dot("ve", "cv") / (F.col("nrm") * F.col("cnrm"))).alias("ccos")
    return (
        vectors.crossJoin(F.broadcast(cent))
        .select("vec_id", "ve", "nrm", F.col("cent_id").alias("cell"), ccos)
        .groupBy("vec_id")
        .agg(
            F.expr("max_by(cell, struct(ccos, -cell))").alias("cell"),
            F.first("ve").alias("ve"),
            F.first("nrm").alias("nrm"),
        )
        .select("vec_id", "ve", "nrm", "cell")
    )


def append_batch(
    spark: SparkSession, index_dir: str, batch_vectors: DataFrame, batch_date: str
) -> dict:
    """Assign one day's vectors against the frozen quantizer and land
    them under ``date=<batch_date>/cell=<c>/``. Re-running the same
    (batch, date) overwrites only that date partition — idempotent.
    Dates strictly below the compaction horizon are SPENT (their rows
    were folded into the base) and refuse, like every folded store."""
    check_not_below_horizon(spark, index_dir, batch_date, "ann-index append")
    cent = read_centroids(spark, index_dir)
    rows = _assign(_with_norm(batch_vectors), cent).withColumn(
        PARTITION_COL, F.lit(batch_date)
    )
    replace_partitions(
        spark, f"{index_dir}/cells", rows, [batch_date], extra_partition_cols=("cell",)
    )
    return {"date": batch_date, "batch_vectors": batch_vectors.count()}


def _probe_scored(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    n_probe: int,
) -> DataFrame:
    """The probe pipeline up to the per-pair cosine: rank the frozen
    centroids per query, probe the ``n_probe`` closest cells, score only
    vectors stored in those cells. The probed cell ids are collected to
    the driver (bounded by the CENTROID count — 16 rows, never
    data-sized) so the cells scan partition-prunes to exactly those
    directories; the candidate join and rescore then read
    n_probe/n_cells of the index. Returns (query_id, neighbor_id, cell,
    cosine) — probe_topk ranks it as-is, probe_hard_negatives applies
    the positive ceiling first."""
    cent = read_centroids(spark, index_dir)
    # Guard against the ACTUAL quantizer, not just the marker: a marker
    # can overstate if the centroids table was tampered with or a legacy
    # train collapsed cells — assert the two agree at read time, then cap
    # the probe at the real cell count. n_probe == n_cells is PERMITTED
    # (a well-defined, if wasteful, full scan — useful as a recall
    # ceiling gauge); only exceeding the quantizer refuses.
    n_cells = cent.count()
    marker = read_sizing(spark, index_dir)
    if n_cells != marker:
        raise ValueError(
            f"probe: index at {index_dir} records _sizing=c{marker} but "
            f"its centroids table holds {n_cells} rows — the quantizer "
            "is degenerate (empty-cell collapse or a partial write); "
            "retrain into a new directory (retrain_index) or rebuild"
        )
    if n_probe > n_cells:
        raise ValueError(
            f"probe: n_probe={n_probe} exceeds the index's {n_cells} "
            "centroids — probes cap at every cell (n_probe == n_cells "
            "is a permitted full scan); lower n_probe or retrain at a "
            "larger sizing"
        )
    q = queries.select(
        F.col("query_id"), as_double(F.col("embedding")).alias("qv")
    ).select("query_id", "qv", F.sqrt(dot("qv", "qv")).alias("qnrm"))

    qcos = (dot("qv", "cv") / (F.col("qnrm") * F.col("cnrm"))).alias("qcos")
    wq = Window.partitionBy("query_id").orderBy(F.desc("qcos"), F.asc("cell"))
    probe = (
        q.crossJoin(F.broadcast(cent))
        .select("query_id", F.col("cent_id").alias("cell"), qcos)
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= n_probe)
        .select("query_id", "cell")
    )
    # Bounded collect: at most one row per CENTROID (16), independent of
    # both corpus and query-set size — it exists purely to turn the probe
    # set into a literal IN-list the scan can partition-prune on.
    cells = sorted(r["cell"] for r in probe.select("cell").distinct().collect())

    idx = (
        spark.read.parquet(f"{index_dir}/cells")
        .filter(F.col("cell").isin(cells))
        .select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("ve").alias("nve"),
            F.col("nrm").alias("nnrm"),
            "cell",
        )
    )
    return (
        probe.join(idx, "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            "cell",
            (dot("qv", "nve") / (F.col("qnrm") * F.col("nnrm"))).alias("cosine"),
        )
    )


def probe_topk(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    k: int = TOP_K,
    n_probe: int = _N_PROBE,
) -> DataFrame:
    """Top-k cosine neighbors for ``queries`` (query_id, embedding)
    against the maintained index — see _probe_scored for the
    partition-pruned probe plan."""
    scored = _probe_scored(spark, index_dir, queries, n_probe)
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def probe_hard_negatives(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    k: int = TOP_K,
    n_probe: int = _N_PROBE,
    ceiling: float = _HARD_NEG_CEIL,
) -> DataFrame:
    """Hard-negative mining served from the maintained index: per query,
    the top-k most-similar stored vectors STRICTLY BELOW the positive
    ``ceiling`` (cosine >= ceiling means probable positive/near-dup —
    sampling it as a negative poisons contrastive training with false
    negatives; see plans/similarity.py::ann_hard_negatives for the 0.90
    tier's derivation from the shipped recall curve).

    This is the production form of the registered
    ann_hard_negatives_ivf lane: the SAME frozen quantizer, the SAME
    n_probe cell probe and ceiling arithmetic, but candidates come from
    the PERSISTED partition-pruned cell directories — so mining a day's
    new training queries costs n_probe/n_cells of the index, never a
    corpus×queries scan (the brute-force lane's 100 TB failure mode).
    With the quantizer trained on the full corpus this row-equals the
    registered lane (pinned in tests/test_ann_index.py)."""
    scored = _probe_scored(spark, index_dir, queries, n_probe)
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.filter(F.col("cosine") < F.lit(ceiling))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def compact_index_cells(spark: SparkSession, index_dir: str, keep_from: str) -> dict:
    """Date-fold for the inverted file: every ``date=`` partition of
    ``{index}/cells`` strictly below ``keep_from`` folds into the
    reserved base partition, RE-PARTITIONED BY CELL — the probe's
    ``cell=`` pruning survives the fold unchanged (the base is
    ``date=0000-00-00/cell=<c>/``, one directory per cell, exactly the
    layout a fresh append writes under its own date).

    Why the store needs this at all: a long-lived index that is never
    retrained accumulates one date dir × n_cells subdirs per batch, and
    the probe's file-index build grows with that directory count even
    though it reads only n_probe cells' ROWS (the r9/r10 listing-term
    economics; SCALE.md records this store's probe wall against
    ledger age). Retrain cadence bounds it only if you retrain; the fold
    bounds it unconditionally.

    The fold is exact by construction — each vector lives in exactly one
    (date, cell) partition under the replay contract, so the merge is
    pure concatenation; probe results are bit-identical before and after
    (pinned in tests/test_ann_index.py). Folding SPENDS the folded
    dates' replay keys: append_batch refuses them (check_not_below_horizon),
    with the standard crash discipline (horizon marker first, staged
    base, crashed swap finished by the next run) inherited from base_fold."""
    return base_fold(
        spark,
        index_dir,
        keep_from,
        op_name="ann-index compact",
        part_key=PARTITION_COL,
        base_key=BASE_KEY,
        subtables={
            "cells": lambda src: (src.select("vec_id", "ve", "nrm", "cell"), ["cell"])
        },
    )


def read_stored_vectors(spark: SparkSession, index_dir: str) -> DataFrame:
    """(vec_id, ve, nrm) for every vector in the index — the cells table
    minus its layout columns. Distinct-safe: each vector lives in
    exactly one (date, cell) partition under the replay contract."""
    return spark.read.parquet(f"{index_dir}/cells").select("vec_id", "ve", "nrm")


def index_recall(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    k: int = TOP_K,
    n_probe: int = _N_PROBE,
) -> float:
    """Mean (macro-averaged) recall@k of the index's probe against the
    EXACT top-k over its own stored vectors, for a SAMPLE of queries —
    the maintained twin of the ann_ivf_recall lane. Per-query recall is
    hits/|exact top-k for that query|, then averaged so every query
    counts equally — a pooled micro-average (total hits / total exact
    pairs) would overweight queries with more exact neighbors whenever
    per-query counts differ (e.g. corpus smaller than k), and this
    number is retrain_index's cutover gauge. Cost: one probe plus one
    brute-force pass restricted to the sample (|queries| × corpus dot
    products — a gauge you run on dozens of queries, not a serving
    path; the probe side stays partition-pruned)."""
    q = queries.select(
        "query_id", as_double(F.col("embedding")).alias("qv")
    ).select("query_id", "qv", F.sqrt(dot("qv", "qv")).alias("qnrm"))
    nv = read_stored_vectors(spark, index_dir)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    exact = (
        nv.join(F.broadcast(q), nv.vec_id != q.query_id)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (dot("qv", "ve") / (F.col("qnrm") * F.col("nrm"))).alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id")
    )
    approx = probe_topk(spark, index_dir, queries, k=k, n_probe=n_probe).select(
        "query_id", "neighbor_id"
    )
    hits = (
        exact.join(approx, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count("*").alias("hits"))
    )
    row = (
        exact.groupBy("query_id")
        .agg(F.count("*").alias("n"))
        .join(hits, "query_id", "left")
        .agg(
            F.avg(
                F.coalesce(F.col("hits"), F.lit(0)) / F.col("n")
            ).alias("recall")
        )
        .collect()[0]
    )
    return float(row["recall"]) if row["recall"] is not None else 1.0


def retrain_index(
    spark: SparkSession,
    old_dir: str,
    new_dir: str,
    n_cells: int,
    batch_date: str,
    queries: DataFrame | None = None,
    k: int = TOP_K,
    n_probe: int = _N_PROBE,
) -> dict:
    """The quantizer-growth migration (VERDICT r10 #4): train a NEW
    ``n_cells``-cell quantizer on the old index's stored vectors, land
    the full re-assignment in ``new_dir`` (one ``date=<batch_date>``
    partition — subsequent daily appends continue as usual), and gauge
    recall@k SIDE-BY-SIDE on both indexes so the cutover decision reads
    one report. The OLD index is never touched — both serve until the
    operator retires one (blue/green, not in-place: an in-place retrain
    would change every assignment under readers mid-flight).

    Scale: re-assignment is the usual broadcast-quantizer argmax over
    ONE full read of the stored vectors (the same cost any bulk
    re-index pays); the recall gauge runs on the caller's sample
    queries (default: the first {TOP_K} stored vectors)."""
    if old_dir == new_dir:
        raise ValueError(
            "retrain_index: new_dir must differ from old_dir — retrain "
            "is blue/green by design (see docstring)"
        )
    vectors = read_stored_vectors(spark, old_dir).select(
        "vec_id", F.col("ve").alias("embedding")
    )
    train_index(spark, new_dir, vectors, n_cells=n_cells)
    append_batch(spark, new_dir, vectors, batch_date)
    if queries is None:
        queries = (
            read_stored_vectors(spark, old_dir)
            .orderBy("vec_id")
            .limit(TOP_K)
            .select(F.col("vec_id").alias("query_id"), F.col("ve").alias("embedding"))
        )
    return {
        "old_dir": old_dir,
        "new_dir": new_dir,
        "n_cells_old": read_sizing(spark, old_dir),
        "n_cells_new": n_cells,
        "recall_old": index_recall(spark, old_dir, queries, k=k, n_probe=n_probe),
        "recall_new": index_recall(spark, new_dir, queries, k=k, n_probe=n_probe),
    }


def _check(args) -> str | None:
    """Every argument rule before any mutation: a fold spends replay keys
    irreversibly, so a flag typo must not leave the store changed by a
    command that then reports failure."""
    if args.batch is not None and args.date is None:
        return "--batch requires --date"
    if args.retrain_to is not None and (args.n_cells is None or args.date is None):
        return "--retrain-to requires --n-cells and --date"
    if args.ceiling is not None and not args.hard_negatives:
        return "--ceiling only applies with --hard-negatives"
    if args.hard_negatives and args.query is None:
        return (
            "--hard-negatives mines against --query vectors; pass --query (the "
            "flag does nothing for train/append)"
        )
    return None


def _train(spark: SparkSession, args, report: dict) -> bool:
    if args.train is not None:
        vecs = spark.read.parquet(args.train).select("vec_id", "embedding")
        kw = {} if args.n_cells is None else {"n_cells": args.n_cells}
        report.update(train_index(spark, args.index, vecs, **kw))
    if args.retrain_to is not None:
        report["retrain"] = retrain_index(
            spark, args.index, args.retrain_to, args.n_cells, args.date
        )
    return False


def _check_trained(spark: SparkSession, index_dir: str) -> None:
    """A stream needs the frozen quantizer ``train_index`` writes."""
    fs, path_cls = hadoop_fs(spark, index_dir)
    if not fs.exists(path_cls(f"{index_dir}/centroids")):
        raise ValueError(
            f"run_ann_append_available_now: {index_dir}/centroids does not "
            "exist — train_index must freeze the quantizer before any "
            "streamed append (a mid-stream retrain would assign batches "
            "against different models)"
        )


def _query(spark: SparkSession, index_dir: str, args) -> dict:
    raw = spark.read.parquet(args.query)
    key = "query_id" if "query_id" in raw.columns else "vec_id"
    queries = raw.select(F.col(key).alias("query_id"), "embedding")
    kwargs = {} if args.k is None else {"k": args.k}
    if args.hard_negatives and args.ceiling is not None:
        kwargs["ceiling"] = args.ceiling
    probe = probe_hard_negatives if args.hard_negatives else probe_topk
    topk = probe(spark, index_dir, queries, **kwargs)
    return report_rows(topk, "out", args.out, result_rows=None)


STORE = StoreRecord(
    "ann-index", append_batch, compact_index_cells,
    StoreSpec(key_col="vec_id", subs=(SubSpec("cells", inner_parts=("cell",)),)),
    columns=("vec_id", "embedding"), stream_schema="vec_id bigint, embedding array<float>",
    pre_stream=_check_trained, count_dir="cells", actions=(Action("query", _query),),
    needs=("train", "batch", "stream_source", "retrain_to", "query",
           "compact_keep_from", "auto_compact_max_dirs"),
    paired=False, check=_check, prepare=_train,
)
