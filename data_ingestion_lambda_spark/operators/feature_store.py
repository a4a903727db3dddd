"""Maintained per-user feature store — the PRODUCTION form of the
registered ``feature_user_vectors`` lane (plans/features.py), which
rescans all events per run. This module PERSISTS each batch's per-user
moment DELTAS in the batch date's own partition and derives the feature
vectors READ-SIDE from the merged moments — so a 100 TB events table is
scanned once per day (its own batch), never re-aggregated to refresh
the vectors a trainer joins against.

Reference intent: the reference's daily loop touches only the new day's
files against its stored table (src/lambda_handler.py:38-102); applied
to feature engineering this means each batch contributes one additive
increment and the store never looks back at raw history.

Why this is EXACT, not approximate: every persisted moment is a
SEMIGROUP element — counts and integer-cent sums add, min/max of epoch
microseconds combine as min/max, and the "last event" rides as a
(ts_us, event_id, type) struct merged by lexicographic max (event_id is
unique, so ties cannot exist). Associative + commutative merges mean
N daily applications followed by ``read_user_features`` row-equals the
one-shot lane over the same events — any batch split, any order —
pinned in tests/test_feature_store.py. The derivation from moments to
vector (the IEEE-double part) is ONE shared expression
(``derive_user_vector``), imported by both the registered lane and the
read side, so the two can never desynchronize.

Table layout: ``date=<batch>``-partitioned parquet of per-user moment
rows — the batch-id-keyed sink idiom shared with the vocab model, the
dedup-gate signature index, the drift monitor, and the streaming gap
ledger: a replayed batch overwrites only its own partition
(``replace_partitions``) — idempotent by construction.

Compaction: moments are additive, so folding old partitions into the
reserved base partition ``date=0000-00-00`` is a plain re-aggregation
(read-equality and idempotence pinned). It SPENDS the replay keys of
the folded dates — the same contract compact_gap_ledger states for
committed batch ids — so fold only dates old enough that re-delivery is
out of policy. Read-side cost before compaction is |users| x |days|
moment rows (data-volume-free but calendar-linear); after, |users| + a
few recent days.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestion_lambda_spark.operators.base_fold import base_fold, fold_horizon
from data_ingestion_lambda_spark.operators.layout import (
    finish_swaps,
    hadoop_fs,
    ledger_keying,
    partition_values,
    refuse_stranded_fold,
    replace_partitions,
)
from data_ingestion_lambda_spark.operators.store_record import (
    Action,
    StoreRecord,
    StoreSpec,
    report_rows,
)

DEC38 = "decimal(38,0)"

# Reserved base partition for compacted history — sorts before every real
# ISO date, and apply_feature_batch refuses it as a batch date.
BASE_DATE = "0000-00-00"


def user_moments(events: DataFrame) -> DataFrame:
    """Per-user ADDITIVE moment rows from an event set: counts, exact
    integer-cent value sums (first and second moment), epoch-µs
    first/last-seen bounds, and the last event as a (ts_us, event_id,
    type) struct. Every column merges as a semigroup op, so moments of
    a union == merge of moments — the property the whole store rests
    on. Sums are decimal(38,0): a per-user cent total is long-safe, but
    these rows feed cross-batch merges where Σcents² crosses 2⁶³.

    One user-keyed exchange with map-side partials; the struct max
    needs no window."""
    cents = F.floor(F.col("value") * 100.0 + 0.5).cast("long")
    return events.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("n_purchases"),
        F.sum(cents.cast(DEC38)).alias("sum_cents"),
        F.sum((cents * cents).cast(DEC38)).alias("sumsq_cents"),
        F.min(F.unix_micros(F.col("ts"))).cast("long").alias("first_ts_us"),
        F.max(F.unix_micros(F.col("ts"))).cast("long").alias("last_ts_us"),
        F.max(
            F.struct(
                F.unix_micros(F.col("ts")).cast("long").alias("ts_us"),
                F.col("event_id").cast("long").alias("event_id"),
                F.col("event_type").alias("event_type"),
            )
        ).alias("last_event"),
    )


# Semigroup identity per moment column — what an old-schema partition
# contributes for a column added after it was written. Counters/sums get
# 0; min/max/struct-max get NULL (skipped by the aggregate), so every
# identity-filled feature uniformly means "since the column's
# introduction".
_ADDITIVE_MOMENTS = ("n_events", "n_purchases", "sum_cents", "sumsq_cents")
_MOMENT_TYPES = {
    "n_events": "long",
    "n_purchases": "long",
    "sum_cents": DEC38,
    "sumsq_cents": DEC38,
    "first_ts_us": "long",
    "last_ts_us": "long",
    "last_event": "struct<ts_us:long,event_id:long,event_type:string>",
}


def _moment_identity(col: str):
    # built lazily — F.lit needs an active session, and this module
    # imports fine without one
    base = F.lit(0) if col in _ADDITIVE_MOMENTS else F.lit(None)
    return base.cast(_MOMENT_TYPES[col])


def merge_moments(moments: DataFrame, *, missing_columns: str = "refuse") -> DataFrame:
    """Fold moment rows (one per user per batch partition) back to one
    row per user. Exact: every merge is the column's own semigroup op,
    and decimal(38,0) addition is associative — no ordering effects.

    Schema evolution: a moment column ADDED after old partitions were
    written is absent from the merged read (Spark's parquet union drops
    nothing — the column reads as missing only if no file has it, or
    NULL rows where files lack it). Default ``missing_columns="refuse"``
    raises, naming the column and the two honest remedies: BACKFILL
    (re-apply the old dates from raw events — each apply overwrites only
    its own partition, so backfill is the normal idempotent operation),
    or opt into ``"from_introduction"``, which fills each absent/NULL
    cell with the column's semigroup identity so the derived feature
    reads as "since the column existed". The default refuses because the
    opt-in gives DIFFERENT features different time windows (counters
    present since day 1, the new column since its introduction) — a
    trainer must choose that knowingly, not inherit it silently."""
    if missing_columns not in ("refuse", "from_introduction"):
        raise ValueError(f"missing_columns: {missing_columns!r}")
    absent = [c for c in _MOMENT_TYPES if c not in moments.columns]
    if absent and missing_columns == "refuse":
        raise ValueError(
            f"merge_moments: ledger partitions lack moment column(s) "
            f"{absent} (added after they were written). Either BACKFILL "
            "the old dates (re-apply them from raw events — applies "
            "overwrite only their own partition) or pass "
            "missing_columns='from_introduction' to identity-fill, "
            "accepting that the affected features cover only the period "
            "since the column's introduction"
        )
    for c in absent:
        moments = moments.withColumn(c, _moment_identity(c))
    # Only SENTINEL columns participate in the old-schema NULL probe:
    # columns a current-schema user_moments can NEVER write as NULL
    # (count aggregates over a group that exists by construction). The
    # value-/ts-derived moments (sum_cents, sumsq_cents, first/last_ts_us)
    # are legitimately NULL for a user whose batch events all carried
    # NULL value or ts — the events schema declares both nullable — and
    # NULL is those columns' semigroup identity, so such rows merge
    # correctly and must not be refused as "old-schema partitions".
    # Deliberate narrowing: a hypothetical partition written when the
    # sentinels existed but the value/ts moments did not would now pass
    # undetected — impossible for THIS schema (all current moments have
    # existed since v1), but any future non-null-at-write moment column
    # must be added to the probe tuple below or its absence in old
    # partitions will identity-fill silently.
    probe = [c for c in ("n_events", "n_purchases") if c not in absent]
    if missing_columns == "refuse" and probe:
        # Under a merged-schema read, files written before a column's
        # introduction surface as NULL CELLS, not a missing column — and
        # a healthy current-schema ledger never writes a NULL sentinel (a
        # user row exists only because events did), so a NULL sentinel
        # proves an old-schema partition. One summary-sized probe buys the
        # loud refusal the silent null-skipping aggregates would otherwise
        # paper over.
        nulled = moments.filter(
            __import__("functools").reduce(
                lambda a, b: a | b, [F.col(c).isNull() for c in probe]
            )
        ).limit(1)
        if nulled.count() > 0:
            raise ValueError(
                "merge_moments: ledger has old-schema partitions (NULL "
                f"moment cells among {probe}). Either BACKFILL the old "
                "dates (re-apply them from raw events) or pass "
                "missing_columns='from_introduction' to identity-fill, "
                "accepting that the affected features cover only the "
                "period since the column's introduction"
            )
    if missing_columns == "from_introduction":
        # files written before the column's introduction read as NULL
        # cells even when newer files carry it — same identity fill
        moments = moments.select(
            "user_id",
            *[
                F.coalesce(F.col(c), _moment_identity(c)).alias(c)
                if c in _ADDITIVE_MOMENTS
                else F.col(c)  # null IS the identity for min/max/struct
                for c in _MOMENT_TYPES
            ],
        )
    return moments.groupBy("user_id").agg(
        F.sum("n_events").cast("long").alias("n_events"),
        F.sum("n_purchases").cast("long").alias("n_purchases"),
        F.sum("sum_cents").cast(DEC38).alias("sum_cents"),
        F.sum("sumsq_cents").cast(DEC38).alias("sumsq_cents"),
        F.min("first_ts_us").cast("long").alias("first_ts_us"),
        F.max("last_ts_us").cast("long").alias("last_ts_us"),
        F.max("last_event").alias("last_event"),
    )


def derive_user_vector(moments: DataFrame, extra_cols: tuple = ()) -> DataFrame:
    """Moments → the feature vector a trainer joins on. The ONLY
    IEEE-double arithmetic in the pipeline, shared verbatim by the
    registered one-shot lane, the ledger read sides, and the
    point-in-time lane (which passes its label keys via ``extra_cols``):
    each feature is a fixed short sequence of correctly-rounded ops (one
    division for the rates/mean; convert→sqrt→divide for the population
    std; one division by a double literal for tenure), so identical
    moments always derive identical vectors. Requires n_events >= 1 in
    every input row (Spark 4 ANSI mode makes /0 an error, not a NULL) —
    aggregates guarantee it; point-in-time callers filter first."""
    n = F.col("n_events")
    nD = n.cast(DEC38)
    var_num = (nD * F.col("sumsq_cents") - F.col("sum_cents") * F.col("sum_cents")).cast(
        "double"
    )
    return moments.select(
        "user_id",
        *extra_cols,
        "n_events",
        "n_purchases",
        (F.col("n_purchases").cast("double") / n).alias("purchase_rate"),
        (F.col("sum_cents").cast("double") / n).alias("mean_cents"),
        (F.sqrt(var_num) / n.cast("double")).alias("std_cents"),
        (
            (F.col("last_ts_us") - F.col("first_ts_us")).cast("double")
            / F.lit(86400000000.0)
        ).alias("tenure_days"),
        F.col("last_event").getField("event_type").alias("last_event_type"),
    )


def apply_feature_batch(
    spark: SparkSession, index_dir: str, batch_events: DataFrame, batch_date: str
) -> dict:
    """Land one batch's per-user moment deltas under ``date=<batch_date>``.
    Re-running the same (batch, date) overwrites only that partition —
    idempotent. Unlike the drift monitor there is NO day-purity
    requirement: moments are additive deltas, not per-day facts, so a
    batch spanning midnight merges correctly; the date is purely the
    replay-idempotence key."""
    _dt.date.fromisoformat(batch_date)  # raises on junk (and on BASE_DATE)
    deltas = user_moments(batch_events)
    replace_partitions(spark, index_dir, deltas.withColumn("date", F.lit(batch_date)),
                       [batch_date])
    return {
        "index": index_dir,
        "date": batch_date,
        "users_in_batch": deltas.count(),
    }


def read_moments(
    spark: SparkSession, index_dir: str, *, missing_columns: str = "refuse"
) -> DataFrame:
    """All persisted moment partitions, merged to one row per user.
    Reads with mergeSchema so a column added by a newer code version is
    visible across the whole ledger (old files surface NULL cells);
    see merge_moments for the evolution semantics of
    ``missing_columns``."""
    return merge_moments(
        spark.read.option("mergeSchema", "true").parquet(index_dir).drop("date"),
        missing_columns=missing_columns,
    )


def read_user_features(
    spark: SparkSession, index_dir: str, *, missing_columns: str = "refuse"
) -> DataFrame:
    """Feature vectors derived read-side from the merged ledger — the
    maintained twin of the registered ``feature_user_vectors`` lane,
    row-equal to it over the same events by construction (same moment
    schema, same derivation expression; pinned in tests)."""
    return derive_user_vector(
        read_moments(spark, index_dir, missing_columns=missing_columns)
    )


def read_user_features_asof(
    spark: SparkSession, index_dir: str, as_of: str
) -> DataFrame:
    """Time-travel read: the feature vectors the store would have served
    at end-of-day ``as_of`` — moments merged from every date partition
    <= as_of. This is what makes the ledger layout a feature STORE
    rather than a cache: training-set reconstruction needs the vectors
    as they stood at label time, and the date-keyed deltas give any
    end-of-day state for free (for intra-day label timestamps, the
    registered feature_point_in_time lane reconstructs per-event).

    Compaction COARSENS time travel: folded dates are no longer
    separable, so an as_of below the recorded fold horizon raises
    loudly instead of silently returning the folded total. Plan your
    compaction policy as "fold only dates older than any training
    lookback you still need"."""
    _dt.date.fromisoformat(as_of)
    dates = partition_values(spark, index_dir, "date")
    if BASE_DATE in dates:
        # The compaction horizon (a ``_horizon=<date>`` marker): dates
        # strictly below it were folded into the base and are no longer
        # separable for as-of reads.
        horizon = fold_horizon(spark, index_dir)
        if horizon is None:
            raise ValueError(
                f"read_user_features_asof: {index_dir} has a compacted base "
                "partition but no _horizon= marker — the fold horizon is "
                "unknown, so no as-of read can be proven correct; re-run "
                "compact_feature_ledger with the original (or a later) "
                "keep_from — it restores the marker even when nothing is "
                "left to fold — or read the current state via "
                "read_user_features"
            )
        if as_of < horizon:
            raise ValueError(
                f"read_user_features_asof: as_of {as_of} is below the "
                f"compaction horizon {horizon} — those dates were folded "
                "into the base and are no longer separable"
            )
    selected = [d for d in dates if d == BASE_DATE or d <= as_of]
    if not selected:
        raise ValueError(
            f"read_user_features_asof: no ledger partition at or before "
            f"{as_of} in {index_dir}"
        )
    return derive_user_vector(
        merge_moments(
            spark.read.option("mergeSchema", "true").parquet(
                *[f"{index_dir}/date={d}" for d in selected]
            )
        )
    )


def compact_feature_ledger(spark: SparkSession, index_dir: str, keep_from: str) -> int:
    """Fold every date partition STRICTLY BEFORE ``keep_from`` (plus any
    existing base) into the reserved base partition ``date=0000-00-00``;
    returns the number of partitions folded. Moments are associative,
    so this is a plain re-aggregation — read equality before/after and
    re-run idempotence are pinned by test. SPENDS the replay keys of
    the folded dates: a later apply for such a date would double-count,
    so fold only dates past the re-delivery policy.

    Crash-safe via the one staged partition swap
    (operators/layout.py::replace_partitions): the full merged base
    lands in a dot-prefixed staging dir FIRST, and a crash inside the
    swap is finished by the next writer of the ledger, this entry
    included, before it lists the partitions."""
    _dt.date.fromisoformat(keep_from)
    refuse_stranded_fold(spark, index_dir, "compact_feature_ledger", "date", BASE_DATE)
    finish_swaps(spark, index_dir)
    fold = [
        d
        for d in partition_values(spark, index_dir, "date")
        if d == BASE_DATE or d < keep_from
    ]
    if len(fold) < 2 and BASE_DATE in fold:
        # Only the base itself — nothing to fold. A base WITHOUT a
        # _horizon marker cannot arise from any crash window anymore
        # (the marker is written FIRST, below, before staging or drops,
        # and crash recovery never deletes it) — seeing one means the
        # marker was removed out-of-band, and the true fold point is
        # unknowable from the surviving partitions. REFUSING here is
        # deliberate (ADVICE r9): the r8 behavior restored the marker at
        # the CALLER-supplied keep_from, so a re-run with an EARLIER
        # keep_from than the original fold understated the horizon and
        # served as-of reads between the two dates from already-folded
        # base state.
        if fold_horizon(spark, index_dir) is None:
            raise ValueError(
                f"compact_feature_ledger: {index_dir} has a folded base "
                "but no _horizon= marker, and the original fold point "
                "cannot be reconstructed — recreate it manually (mkdir "
                f"{index_dir}/_horizon=<the ORIGINAL keep_from>); "
                "restoring it at this call's keep_from could understate "
                "the horizon and serve corrupt as-of reads"
            )
        return 0
    if not fold:
        return 0
    # Delegate the horizon-first marker, staged swap and the
    # empty-partition guard to the shared base_fold (operators/
    # base_fold.py, review r10 — this was the third drifted copy); the
    # feature-specific pre-checks above (marker-less-base refusal, the
    # no-op early returns that leave the horizon untouched) stay here.
    # The root-mode ("" sub) read carries the basePath `date` column,
    # which merge_moments must not see.
    res = base_fold(
        spark,
        index_dir,
        keep_from,
        op_name="compact_feature_ledger",
        part_key="date",
        base_key=BASE_DATE,
        subtables={"": lambda src: (merge_moments(src.drop("date")), [])},
    )
    return res["folded"][""]


def read_user_decayed_activity(
    spark: SparkSession, index_dir: str, as_of: str
) -> DataFrame:
    """Recency-weighted engagement served from the ledger: each date
    partition's per-user n_events weighted by 2^(−weeks_old at as_of),
    week-step dyadic decay truncated past 8 half-lives — the SAME
    numbers as the registered feature_user_decayed_activity lane over
    raw events (pinned), with no new persisted state: the date key the
    ledger already carries IS the decay input. Requires DATE-PURE
    batches (the batch date must be the event day — the drift-monitor
    contract); under the store's laxer any-split batching the weights
    would shift to batch dates, so deployments wanting this read adopt
    day-pure applies. Partitions dated after as_of are excluded (as-of
    semantics); a compacted base contributes exactly 0 ONLY when every
    folded date is past the truncation horizon, so the read refuses a
    base newer than as_of − 8 weeks rather than silently under-weight."""
    from data_ingestion_lambda_spark.plans.features import (
        _DECAY_WMAX,
    )

    _dt.date.fromisoformat(as_of)
    if BASE_DATE in partition_values(spark, index_dir, "date"):
        horizon = fold_horizon(spark, index_dir)
        cutoff = (
            _dt.date.fromisoformat(as_of) - _dt.timedelta(weeks=_DECAY_WMAX)
        ).isoformat()
        if horizon is None or horizon > cutoff:
            raise ValueError(
                "read_user_decayed_activity: the compacted base may hold "
                f"dates inside the decay window (horizon {horizon!r} > "
                f"truncation cutoff {cutoff}); decayed reads need the "
                "date identity compaction spends — keep the decay window "
                "of partitions unfolded"
            )
    # partition-type hazard: an all-real-dates ledger infers `date` as
    # DATE, and comparing that to the '0000-00-00' literal would cast
    # the literal and throw (ANSI) — normalize through a string cast,
    # which is the identity for string-inferred mixed ledgers
    d_str = F.col("date").cast("string")
    rows = (
        spark.read.parquet(index_dir)
        .filter(d_str != BASE_DATE)
        .filter(d_str <= as_of)
        .select("user_id", "n_events", d_str.alias("d"))
    )
    weekly = rows.withColumn(
        "w",
        (
            F.datediff(F.lit(as_of).cast("date"), F.col("d").cast("date")).cast(
                "long"
            )
            / F.lit(7)
        ).cast("long"),
    )
    num = F.expr(
        f"CASE WHEN w < {_DECAY_WMAX} THEN "
        f"n_events * shiftleft(CAST(1 AS BIGINT), CAST({_DECAY_WMAX} - w AS INT)) "
        "ELSE CAST(0 AS BIGINT) END"
    )
    return weekly.groupBy("user_id").agg(
        (F.sum(num).cast("double") / F.lit(float(1 << _DECAY_WMAX))).alias(
            "decayed_activity"
        ),
        F.sum(F.when(F.col("w") == 0, F.col("n_events")).otherwise(0))
        .cast("long")
        .alias("events_last_week"),
    )


# The CLI drives one of two ledgers in --index: the daily one keyed by
# date=, or the stream's moment ledger keyed by ingest_batch=
# (streaming/events.py); ledger_keying refuses a dir holding both. The
# hooks route each step to its ledger, and refuse what it cannot take.
_DAILY_ONLY = {
    "batch": "{index} is a stream-driven ledger; daily --batch applies need "
    "their own dir",
    "compact_before": "--compact-before folds date= partitions; a stream "
    "ledger has batch-id keys (no calendar horizon)",
    "decayed_out": "--decayed-out needs the date-keyed daily store (decay "
    "weights come from date keys)",
    "as_of": "--as-of needs the date-keyed daily store (a stream ledger is "
    "keyed by batch id)",
}


def _check(args) -> str | None:
    if args.decayed_out is not None and args.as_of is None:
        return "--decayed-out needs --as-of"
    if args.as_of is not None and args.vectors_out is None and args.decayed_out is None:
        return "--as-of needs --vectors-out or --decayed-out"
    streamed = args.stream_source is not None  # leaves a stream ledger
    flags = ("compact_before", "decayed_out", "as_of") if streamed else ()
    return next((_DAILY_ONLY[f] for f in flags if getattr(args, f) is not None), None)


def _stream_ledger(spark: SparkSession, index_dir: str, streamed: bool) -> bool:
    """Is ``index_dir`` the stream's ledger? A new one is when this run streams."""
    fs, path_cls = hadoop_fs(spark, index_dir)
    if not fs.exists(path_cls(index_dir)):
        return streamed
    try:
        return ledger_keying(spark, index_dir) == "ingest_batch"
    except ValueError as e:
        raise SystemExit(f"feature-store: {e}") from None


def _daily(spark: SparkSession, index_dir: str, flag: str) -> None:
    if _stream_ledger(spark, index_dir, False):
        raise SystemExit("feature-store: " + _DAILY_ONLY[flag].format(index=index_dir))


def _stream(spark: SparkSession, source_dir: str, index_dir: str, *args, **kw) -> int:
    from data_ingestion_lambda_spark.streaming.events import run_feature_store_available_now

    if not _stream_ledger(spark, index_dir, True):
        raise SystemExit(
            f"feature-store: {index_dir} is a date-keyed daily store; point "
            "--stream-source at its own ledger dir"
        )
    return run_feature_store_available_now(spark, source_dir, index_dir, *args, **kw)


def _apply(spark: SparkSession, index_dir: str, batch: DataFrame, key: str) -> dict:
    _daily(spark, index_dir, "batch")
    return apply_feature_batch(spark, index_dir, batch, key)


def _compact(spark: SparkSession, index_dir: str, keep_from: str) -> int:
    _daily(spark, index_dir, "compact_before")
    return compact_feature_ledger(spark, index_dir, keep_from)


def _decayed(spark: SparkSession, index_dir: str, args) -> dict:
    _daily(spark, index_dir, "decayed_out")
    decayed = read_user_decayed_activity(spark, index_dir, args.as_of)
    return report_rows(decayed, "decayed_out", args.decayed_out)


def _vectors(spark: SparkSession, index_dir: str, args) -> dict:
    from data_ingestion_lambda_spark.streaming.events import features_from_moment_ledger

    if _stream_ledger(spark, index_dir, args.stream_source is not None):
        if args.as_of is not None:
            raise SystemExit(f"feature-store: {_DAILY_ONLY['as_of']}")
        vectors = features_from_moment_ledger(spark, index_dir)
    elif args.as_of is None:
        vectors = read_user_features(spark, index_dir)
    else:
        vectors = read_user_features_asof(spark, index_dir, args.as_of)
    return report_rows(vectors, "vectors_out", args.vectors_out, users=None)


def _auto_fold(spark: SparkSession, args, index_dir: str) -> dict | None:
    """A stream ledger's batch-id keys have no date horizon: it folds every
    committed batch at once (streaming/events.py), under the policy's
    report shape. None leaves a daily ledger to the shared policy."""
    from data_ingestion_lambda_spark.streaming.events import (
        batch_ledger_fold_due,
        compact_moment_ledger,
    )

    max_dirs, streamed = args.auto_compact_max_dirs, args.stream_source is not None
    if max_dirs is None or not _stream_ledger(spark, index_dir, streamed):
        return None
    policy = {"max_dirs": max_dirs, "due": batch_ledger_fold_due(spark, index_dir, max_dirs)}
    if policy["due"]:
        checkpoint = args.checkpoint if streamed else None
        policy["compaction"] = compact_moment_ledger(spark, index_dir, checkpoint)
    return policy


STORE = StoreRecord(
    "feature-store", _apply, _compact, StoreSpec(key_col="user_id"), events=True,
    actions=(Action("decayed_out", _decayed), Action("vectors_out", _vectors)),
    needs=("batch", "stream_source", "vectors_out", "decayed_out", "compact_before"),
    fold_flag="compact_before", fold_report="folded_partitions",
    stream_report="stream_batches", check=_check, stream=_stream, auto_fold=_auto_fold,
)
