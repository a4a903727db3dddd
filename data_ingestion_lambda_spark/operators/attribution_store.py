"""Maintained last-touch attribution — the PRODUCTION form of the
registered ``events_attribution_last_touch`` lane, which re-sorts the
whole event stream per run. Attribution state decomposes by calendar
day the same way sessions decompose into chains:

- a purchase's winning click is either (a) the latest SAME-DAY click
  before it — computable inside the day's own batch with the lane's
  running struct max — or (b) some PREVIOUS day's latest click by that
  user, in which case only that day's LAST click can win (any earlier
  click of that day is dominated by it, and cross-day dominance is
  resolved read-side by the struct max over days).

So each daily apply persists THREE artifacts in the batch date's own
partition (``date=<batch>`` — the replay-idempotence key, day-pure
like the session store's calendar ledger):

  {index}/purchases : (purchase_id, user_id, ts_us, cents,
                       same-day candidate click struct or NULL,
                       same-day RANGE-frame prior click count,
                       same-day RANGE-frame first/last click structs)
  {index}/last_clicks : one (user_id, cts, cid, fcts, fcid, n_clicks)
                        row per user who clicked that day — the day's
                        LAST and FIRST click plus the day's click
                        count; |active users| rows, NEVER event-count
                        rows
  {index}/clicks : (user_id, cts, cid) — the day's click timestamps,
                   the one event-bounded artifact (a 3-column
                   projection): the LINEAR and POSITION reads need
                   exact timestamps because a per-day count cannot
                   resolve the partial BOUNDARY day of the microsecond
                   window; the last-touch read never touches it, and
                   the position read touches only ONE boundary
                   partition per purchase date

``read_attribution`` then joins each purchase against its user's
last-click rows from the preceding {_LOOKBACK_DAYS} day partitions
(partition-pruned by date), takes the struct max of those and the
same-day candidate, and applies the 7-day cutoff — EXACTLY the
one-shot lane's winner (pinned row-equal in
tests/test_attribution_store.py for any day split, including replays).

Economics: a day's apply scans only its own events (one user-keyed
window); the read joins purchase-count rows against <= {_LOOKBACK_DAYS}
x |clicking users/day| last-click rows — the 100 TB event history is
never re-read to attribute today's purchases.

Retention: ``expire_attribution`` drops click-side partitions
(``clicks``/``last_clicks``) older than the lookback — they are the
store's only unbounded INPUT state; ``purchases`` is the OUTPUT and is
kept. After expiring everything before date B, reads stay exact for
purchases dated >= B + {_LOOKBACK_DAYS}; older purchases are
already-emitted history (their attribution left the store before the
expiry horizon reached them).

Frame-semantics note (cross-lane tie discipline): the LAST-TOUCH lane
orders by (ts_us, event_id) with a ROWS frame — a click sharing the
purchase's exact microsecond (lower event_id) IS a candidate — while
the LINEAR and POSITION lanes use a value-RANGE frame ending at -1 µs,
which excludes ALL same-instant clicks. The store persists both
flavors: ``same_day_click`` (ROWS, last-touch) and the
``same_day_prior_clicks`` / ``same_day_first_click`` /
``same_day_last_click`` trio (RANGE), so every read matches its lane
even on tied timestamps (pinned in tests/test_attribution_store.py).
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestion_lambda_spark.operators.base_fold import base_fold, fold_horizon
from data_ingestion_lambda_spark.operators.layout import (
    finish_swaps,
    hadoop_fs,
    partition_values,
    replace_partitions,
)
from data_ingestion_lambda_spark.plans.events_queries import (
    _ATTR_WINDOW_US,
    _DAY_US,
    _DECAY_BUCKETS,
)

_LOOKBACK_DAYS = 7  # matches _ATTR_WINDOW_US = 7 days


def _has_partitions(spark: SparkSession, path: str) -> bool:
    """True iff the ledger sub-table holds at least one ``date=``
    partition. A purchase-only day legitimately writes NO click rows,
    leaving the click-side directory empty (replace_partitions mkdirs
    the target even when nothing swaps in) — reading an empty parquet
    dir would fail schema inference, so reads treat it as absent."""
    return bool(partition_values(spark, path, "date"))


def apply_attribution_batch(
    spark: SparkSession, index_dir: str, batch_events: DataFrame, batch_date: str
) -> dict:
    """Land one DAY-PURE batch's purchases (with same-day candidates)
    and per-user last clicks under ``date=<batch_date>``. Re-running the
    same (batch, date) overwrites only its own partitions — idempotent.
    Day purity is the replay discipline (the date key must own all of
    its day's events), exactly the session store's contract."""
    _dt.date.fromisoformat(batch_date)
    stray = batch_events.filter(
        F.col("ts").isNull()
        | (F.to_date("ts") != F.lit(batch_date).cast("date"))
    ).limit(1)
    if stray.count() > 0:
        raise ValueError(
            f"apply_attribution_batch: batch contains events outside "
            f"{batch_date} (or NULL ts); the calendar ledger requires "
            "day-pure batches — re-apply the other date(s) separately"
        )
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    e = batch_events.select(
        "user_id",
        "event_id",
        "event_type",
        us.alias("ts_us"),
        F.floor(F.col("value") * 100.0 + 0.5).cast("long").alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    click_struct = F.when(
        F.col("event_type") == "click",
        F.struct(F.col("ts_us").alias("cts"), F.col("event_id").alias("cid")),
    )
    click_flag = F.when(F.col("event_type") == "click", 1)
    # The linear/position lanes scope same-day state with a value-RANGE
    # frame ending 1 µs before the purchase (same-instant clicks
    # excluded; the 7-day lower bound never binds inside one day but is
    # kept for frame identity with the lanes) — the ROWS frame above
    # would count a same-microsecond click with a lower event_id, which
    # those lanes exclude (tie-pinned in tests).
    w_range = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-_ATTR_WINDOW_US, -1)
    )
    purchases = (
        e.withColumn("same_day_click", F.max(click_struct).over(w))
        .withColumn(
            "same_day_prior_clicks",
            F.coalesce(F.sum(click_flag).over(w_range), F.lit(0)).cast("long"),
        )
        .withColumn("same_day_first_click", F.min(click_struct).over(w_range))
        .withColumn("same_day_last_click", F.max(click_struct).over(w_range))
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            "ts_us",
            "cents",
            "same_day_click",
            "same_day_prior_clicks",
            "same_day_first_click",
            "same_day_last_click",
        )
        .withColumn("date", F.lit(batch_date))
    )
    last_clicks = (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(
            F.max(
                F.struct(F.col("ts_us").alias("cts"), F.col("event_id").alias("cid"))
            ).alias("last_click"),
            F.min(
                F.struct(F.col("ts_us").alias("cts"), F.col("event_id").alias("cid"))
            ).alias("first_click"),
            F.count("*").cast("long").alias("n_clicks"),
        )
        .select(
            "user_id",
            "last_click.cts",
            "last_click.cid",
            F.col("first_click.cts").alias("fcts"),
            F.col("first_click.cid").alias("fcid"),
            "n_clicks",
        )
        .withColumn("date", F.lit(batch_date))
    )
    # The LINEAR and POSITION reads need every prior-window click's
    # exact timestamp (a per-day count cannot resolve the partial
    # boundary day), so the day's clicks persist as (user_id, cts, cid)
    # rows — a three-column projection of the day's click events, the
    # one event-bounded artifact in the store (documented cost of exact
    # multi-touch credit; the last-touch read never touches it).
    clicks = (
        e.filter(F.col("event_type") == "click")
        .select("user_id", F.col("ts_us").alias("cts"), F.col("event_id").alias("cid"))
        .withColumn("date", F.lit(batch_date))
    )
    replace_partitions(spark, f"{index_dir}/purchases", purchases, [batch_date])
    replace_partitions(spark, f"{index_dir}/last_clicks", last_clicks, [batch_date])
    replace_partitions(spark, f"{index_dir}/clicks", clicks, [batch_date])
    return {"index": index_dir, "date": batch_date}


def read_attribution(spark: SparkSession, index_dir: str) -> DataFrame:
    """The attribution table — row-equal to
    ``events_attribution_last_touch`` over the same events: per
    purchase, the struct max of its same-day candidate and its user's
    last clicks from the preceding {_LOOKBACK_DAYS} day partitions,
    under the 7-day cutoff. The cross-day join is user-keyed against
    last-click rows only (user-bounded, partition-pruned to the
    lookback window per purchase date read-side via the date
    inequality)."""
    fs, path_cls = hadoop_fs(spark, index_dir)
    if not fs.exists(path_cls(f"{index_dir}/purchases")):
        raise ValueError(f"read_attribution: no purchases ledger at {index_dir}")
    p = spark.read.parquet(f"{index_dir}/purchases").withColumn(
        "pdate", F.col("date").cast("date")
    )
    have_clicks = _has_partitions(spark, f"{index_dir}/last_clicks")
    if have_clicks:
        c = spark.read.parquet(f"{index_dir}/last_clicks").select(
            "user_id",
            "cts",
            "cid",
            F.col("date").cast("date").alias("cdate"),
        )
        # prior-day candidates: strictly earlier date, within the lookback
        joined = p.join(
            c,
            (p["user_id"] == c["user_id"])
            & (c["cdate"] < p["pdate"])
            & (c["cdate"] >= F.date_sub(p["pdate"], _LOOKBACK_DAYS)),
            "left",
        ).select(
            p["purchase_id"],
            p["user_id"],
            p["ts_us"],
            p["cents"],
            p["same_day_click"],
            F.when(
                c["cts"].isNotNull(),
                F.struct(c["cts"].alias("cts"), c["cid"].alias("cid")),
            ).alias("prior_click"),
        )
    else:
        joined = p.select(
            "purchase_id",
            "user_id",
            "ts_us",
            "cents",
            "same_day_click",
            F.lit(None)
            .cast("struct<cts:bigint,cid:bigint>")
            .alias("prior_click"),
        )
    # struct max resolves cross-day dominance; F.greatest skips NULLs, so
    # a purchase with only one side present keeps it (same_day_click is
    # constant across a purchase's joined rows — first() just picks it)
    best = joined.groupBy("purchase_id", "user_id", "ts_us", "cents").agg(
        F.greatest(F.max("prior_click"), F.first("same_day_click")).alias(
            "best_click"
        )
    )
    attributed = F.col("best_click").isNotNull() & (
        F.col("ts_us") - F.col("best_click.cts") <= F.lit(_ATTR_WINDOW_US)
    )
    return best.withColumn("attributed", attributed).select(
        F.col("purchase_id"),
        "user_id",
        F.col("cents").alias("purchase_cents"),
        F.when(F.col("attributed"), F.col("best_click.cid")).alias("click_id"),
        F.when(
            F.col("attributed"),
            (F.col("ts_us") - F.col("best_click.cts")).cast("long"),
        ).alias("gap_us"),
        "attributed",
    )


def read_attribution_linear(spark: SparkSession, index_dir: str) -> DataFrame:
    """The equal-credit attribution table — row-equal to
    ``events_attribution_linear`` over the same events: per purchase,
    the window click count is its SAME-DAY prior count (persisted at
    apply time from the day's own window) plus the exact count of
    prior-day clicks inside the 7-day microsecond window, read from the
    store's (user_id, cts) click rows with a date-pruned, user-keyed
    join. One guarded division for the per-click credit."""
    fs, path_cls = hadoop_fs(spark, index_dir)
    if not fs.exists(path_cls(f"{index_dir}/purchases")):
        raise ValueError(
            f"read_attribution_linear: no purchases ledger at {index_dir}"
        )
    p = spark.read.parquet(f"{index_dir}/purchases").withColumn(
        "pdate", F.col("date").cast("date")
    )
    if _has_partitions(spark, f"{index_dir}/clicks"):
        c = spark.read.parquet(f"{index_dir}/clicks").select(
            "user_id", "cts", F.col("date").cast("date").alias("cdate")
        )
        joined = p.join(
            c,
            (p["user_id"] == c["user_id"])
            & (c["cdate"] < p["pdate"])
            & (c["cdate"] >= F.date_sub(p["pdate"], _LOOKBACK_DAYS))
            & (c["cts"] < p["ts_us"])
            & (p["ts_us"] - c["cts"] <= F.lit(_ATTR_WINDOW_US)),
            "left",
        ).select(
            p["purchase_id"],
            p["user_id"],
            p["ts_us"],
            p["cents"],
            p["same_day_prior_clicks"],
            c["cts"].alias("prior_cts"),
        )
    else:
        joined = p.select(
            "purchase_id",
            "user_id",
            "ts_us",
            "cents",
            "same_day_prior_clicks",
            F.lit(None).cast("bigint").alias("prior_cts"),
        )
    counted = joined.groupBy(
        "purchase_id", "user_id", "ts_us", "cents", "same_day_prior_clicks"
    ).agg(F.count("prior_cts").cast("long").alias("n_prior"))
    n = (F.col("same_day_prior_clicks") + F.col("n_prior")).cast("long")
    return counted.select(
        "purchase_id",
        "user_id",
        F.col("cents").alias("purchase_cents"),
        n.alias("n_clicks_window"),
        F.when(n > 0, F.col("cents").cast("double") / n).alias("credit_per_click"),
        (n > 0).alias("attributed"),
    )


def read_attribution_position(spark: SparkSession, index_dir: str) -> DataFrame:
    """The position-based (U-shaped) attribution table — row-equal to
    ``events_attribution_position`` over the same events: per purchase,
    the window's FIRST and LAST click structs and its click count,
    assembled day-decomposed:

    - SAME-DAY state comes from the persisted RANGE-frame columns
      (first/last struct + prior count, written at apply time from the
      day's own window — no join).
    - FULL prior days (pdate-6 .. pdate-1) are wholly inside the 7-day
      window (day start of pdate-6 > ts_us - 7d for any ts_us within
      pdate), so the per-user (first, last, count) rows of
      ``last_clicks`` are exact — user-bounded, date-pruned.
    - The BOUNDARY day (pdate-7) is partial: the window's microsecond
      start lands inside it, so its contribution needs exact
      timestamps — joined from ``clicks`` filtered to
      cts >= ts_us - 7d, touching exactly ONE date partition per
      purchase date.

    The three candidate sets union into ONE user-keyed aggregation
    (min/max struct + sum), then the credits are the lane's integer
    hundredth-cents splits. Economics: same profile as the linear read
    plus one single-partition boundary join — never a re-sort of
    history."""
    fs, path_cls = hadoop_fs(spark, index_dir)
    if not fs.exists(path_cls(f"{index_dir}/purchases")):
        raise ValueError(
            f"read_attribution_position: no purchases ledger at {index_dir}"
        )
    p = spark.read.parquet(f"{index_dir}/purchases").withColumn(
        "pdate", F.col("date").cast("date")
    )
    keys = [
        "purchase_id",
        "user_id",
        "ts_us",
        "cents",
        "same_day_prior_clicks",
        "same_day_first_click",
        "same_day_last_click",
    ]
    start = p["ts_us"] - F.lit(_ATTR_WINDOW_US)
    parts = []
    if _has_partitions(spark, f"{index_dir}/last_clicks"):
        lc = spark.read.parquet(f"{index_dir}/last_clicks").select(
            F.col("user_id").alias("c_user"),
            "cts",
            "cid",
            "fcts",
            "fcid",
            "n_clicks",
            F.col("date").cast("date").alias("cdate"),
        )
        # full days: every click of the day is inside the window, so the
        # day's (first, last, count) summary row is exact as-is
        full = p.join(
            lc,
            (p["user_id"] == lc["c_user"])
            & (lc["cdate"] > F.date_sub(p["pdate"], _LOOKBACK_DAYS))
            & (lc["cdate"] < p["pdate"]),
            "left",
        ).select(
            *[p[k] for k in keys],
            F.when(
                lc["fcts"].isNotNull(),
                F.struct(lc["fcts"].alias("cts"), lc["fcid"].alias("cid")),
            ).alias("first_cand"),
            F.when(
                lc["cts"].isNotNull(),
                F.struct(lc["cts"].alias("cts"), lc["cid"].alias("cid")),
            ).alias("last_cand"),
            lc["n_clicks"].alias("n_cand"),
        )
        parts.append(full)
        c = spark.read.parquet(f"{index_dir}/clicks").select(
            F.col("user_id").alias("c_user"),
            "cts",
            "cid",
            F.col("date").cast("date").alias("cdate"),
        )
        # boundary day: window-exact per-click rows from ONE partition
        bnd_struct = F.struct(c["cts"].alias("cts"), c["cid"].alias("cid"))
        bnd = p.join(
            c,
            (p["user_id"] == c["c_user"])
            & (c["cdate"] == F.date_sub(p["pdate"], _LOOKBACK_DAYS))
            & (c["cts"] >= start),
            "left",
        ).select(
            *[p[k] for k in keys],
            F.when(c["cts"].isNotNull(), bnd_struct).alias("first_cand"),
            F.when(c["cts"].isNotNull(), bnd_struct).alias("last_cand"),
            F.when(c["cts"].isNotNull(), F.lit(1)).cast("long").alias("n_cand"),
        )
        parts.append(bnd)
    else:
        null_struct = F.lit(None).cast("struct<cts:bigint,cid:bigint>")
        parts.append(
            p.select(
                *keys,
                null_struct.alias("first_cand"),
                null_struct.alias("last_cand"),
                F.lit(None).cast("long").alias("n_cand"),
            )
        )
    u = parts[0]
    for extra in parts[1:]:
        u = u.unionByName(extra)
    agg = u.groupBy(*keys).agg(
        F.min("first_cand").alias("prior_first"),
        F.max("last_cand").alias("prior_last"),
        F.sum("n_cand").alias("n_prior"),
    )
    n = (
        F.col("same_day_prior_clicks") + F.coalesce(F.col("n_prior"), F.lit(0))
    ).cast("long")
    # least/greatest skip NULL sides, resolving cross-day vs same-day
    first = F.least(F.col("prior_first"), F.col("same_day_first_click"))
    last = F.greatest(F.col("prior_last"), F.col("same_day_last_click"))
    hit = n > 0
    return agg.select(
        "purchase_id",
        "user_id",
        F.col("cents").alias("purchase_cents"),
        n.alias("n_clicks_window"),
        F.when(hit, first["cid"]).alias("first_click_id"),
        F.when(hit, last["cid"]).alias("last_click_id"),
        F.when(n >= 2, (F.lit(40) * F.col("cents")).cast("long")).alias(
            "first_credit_x100"
        ),
        F.when(n >= 2, (F.lit(40) * F.col("cents")).cast("long")).alias(
            "last_credit_x100"
        ),
        F.when(n > 2, (F.lit(20) * F.col("cents")).cast("long")).alias(
            "middle_pool_x100"
        ),
        hit.alias("attributed"),
    )


def expire_attribution(
    spark: SparkSession,
    index_dir: str,
    *,
    as_of: str,
    keep_days: int = _LOOKBACK_DAYS,
) -> dict:
    """Retention for the store's only unbounded INPUT state: drop
    ``clicks`` and ``last_clicks`` partitions dated before
    ``as_of - keep_days``. ``purchases`` is the OUTPUT ledger and is
    never touched.

    Contract: reads stay EXACT for purchases dated >=
    cutoff + {_LOOKBACK_DAYS} (their whole click window survives);
    older purchases are already-emitted history. ``keep_days`` below
    the {_LOOKBACK_DAYS}-day lookback is refused — it would change
    reads for purchases on ``as_of`` itself. Idempotent: re-running
    with the same arguments deletes nothing new."""
    _dt.date.fromisoformat(as_of)
    if keep_days < _LOOKBACK_DAYS:
        raise ValueError(
            f"expire_attribution: keep_days={keep_days} < lookback "
            f"{_LOOKBACK_DAYS} would corrupt reads for purchases on "
            f"as_of={as_of} itself"
        )
    cutoff = _dt.date.fromisoformat(as_of) - _dt.timedelta(days=keep_days)
    dropped: list[str] = []
    for sub in ("clicks", "last_clicks"):
        sub_dir = f"{index_dir}/{sub}"
        finish_swaps(spark, sub_dir)
        expired = []
        for d in partition_values(spark, sub_dir, "date"):
            try:
                if _dt.date.fromisoformat(d) < cutoff:
                    expired.append(d)
            except ValueError:
                continue
        if expired:
            replace_partitions(spark, sub_dir, None, expired)
        dropped += [f"{sub}/date={d}" for d in expired]
    return {
        "index": index_dir,
        "cutoff": cutoff.isoformat(),
        "dropped": sorted(dropped),
        "exact_for_purchases_from": (
            cutoff + _dt.timedelta(days=_LOOKBACK_DAYS)
        ).isoformat(),
    }


# ---------------------------------------------------------------------------
# Any-split (streaming) representation — no day-purity requirement
# ---------------------------------------------------------------------------


def land_attribution_batch(
    spark: SparkSession, index_dir: str, batch_events: DataFrame, batch_key: str
) -> dict:
    """ANY-SPLIT apply — the streaming front's body, the attribution
    analogue of the session store's partial-session landing: a
    micro-batch is NOT day-pure (a day routinely spans triggers), so
    per-day window state cannot be finalized at apply time. Instead the
    batch lands exactly what the window reads need, keyed by its OWN
    partition (``ingest_batch=<key>`` — replay overwrites only itself,
    the batch-id-keyed sink idiom), day-sliced INSIDE the batch
    partition so reads can still partition-prune on date:

      {index}/stream_purchases/ingest_batch=K/date=D :
          (purchase_id, user_id, ts_us, cents)
      {index}/stream_clicks/ingest_batch=K/date=D :
          (user_id, cts, cid)

    Same-day window state moves to the READ (it cannot be computed in a
    batch that may have missed earlier same-day clicks from another
    trigger); the reads below reconstruct every mode from a date-pruned
    8-day click join — per-purchase cost bounded by its OWN window, not
    by store age."""
    if not batch_key or "/" in batch_key or "=" in batch_key:
        raise ValueError(f"land_attribution_batch: bad batch key {batch_key!r}")
    if batch_key == LEDGER_BASE_KEY:
        raise ValueError(
            f"land_attribution_batch: {batch_key!r} is the reserved "
            "compaction base partition"
        )
    horizon = fold_horizon(spark, index_dir)
    if horizon is not None and batch_key < horizon:
        raise ValueError(
            f"land_attribution_batch: batch key {batch_key!r} is below "
            f"the compaction horizon {horizon!r} — that batch was folded "
            "into the base partition and its replay key is spent "
            "(keys compare lexicographically; the streaming front's "
            "zero-padded b<id> keys order correctly)"
        )
    if batch_events.filter(F.col("ts").isNull()).limit(1).count() > 0:
        raise ValueError(
            "land_attribution_batch: batch contains NULL ts events — "
            "attribution needs a timestamp; quarantine them upstream"
        )
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    e = batch_events.select(
        "user_id",
        "event_id",
        "event_type",
        us.alias("ts_us"),
        F.floor(F.col("value") * 100.0 + 0.5).cast("long").alias("cents"),
        F.to_date("ts").cast("string").alias("date"),
    )
    (
        e.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            "ts_us",
            "cents",
            "date",
        )
        .write.mode("overwrite")
        .partitionBy("date")
        .parquet(f"{index_dir}/stream_purchases/ingest_batch={batch_key}")
    )
    (
        e.filter(F.col("event_type") == "click")
        .select(
            "user_id",
            F.col("ts_us").alias("cts"),
            F.col("event_id").alias("cid"),
            "date",
        )
        .write.mode("overwrite")
        .partitionBy("date")
        .parquet(f"{index_dir}/stream_clicks/ingest_batch={batch_key}")
    )
    return {"index": index_dir, "key": batch_key}


def _stream_window_agg(spark: SparkSession, index_dir: str) -> DataFrame:
    """Shared core of the any-split reads: per purchase, ONE date-pruned
    user-keyed join against the clicks of its own 8 calendar days
    (pdate-7 .. pdate — the only days the 7-day µs window can touch),
    aggregated once into every mode's state:

      lt_best     — max (cts, cid) struct over the LAST-TOUCH candidate
                    set (the lane's ROWS-frame tie rule: a same-µs click
                    counts iff its event_id is below the purchase's)
      n_range / first_range / last_range — count and struct extremes
                    over the RANGE-frame set (cts in [ts-7d, ts-1]:
                    same-instant clicks excluded), the linear/position
                    windows

    Admission already enforces cts >= ts-7d, so an admitted last-touch
    candidate always passes the cutoff — and a user whose latest click
    sits BELOW the window aggregates to NULL, exactly the lane's
    unattributed verdict. Scale: the date inequality prunes the click
    side to <= 8 partitions per purchase DATE regardless of store age
    (never a history re-scan); within them the join is user-keyed."""
    try:
        p = spark.read.parquet(f"{index_dir}/stream_purchases")
    except Exception as exc:  # noqa: BLE001 — empty/missing ledger
        raise ValueError(
            f"attribution stream read: no purchases ledger under "
            f"{index_dir}/stream_purchases ({exc})"
        ) from exc
    p = p.select(
        "purchase_id",
        "user_id",
        "ts_us",
        "cents",
        F.col("date").cast("date").alias("pdate"),
    )
    try:
        c = spark.read.parquet(f"{index_dir}/stream_clicks").select(
            F.col("user_id").alias("c_user"),
            "cts",
            "cid",
            F.col("date").cast("date").alias("cdate"),
        )
    except Exception:  # no clicks landed yet — all purchases unattributed
        c = None
    if c is not None:
        start = p["ts_us"] - F.lit(_ATTR_WINDOW_US)
        admitted = (
            (p["user_id"] == c["c_user"])
            & (c["cdate"] >= F.date_sub(p["pdate"], _LOOKBACK_DAYS))
            & (c["cdate"] <= p["pdate"])
            & (c["cts"] >= start)
            # last-touch ROWS-frame precedence: strictly earlier µs, or
            # same µs with a lower event id
            & (
                (c["cts"] < p["ts_us"])
                | ((c["cts"] == p["ts_us"]) & (c["cid"] < p["purchase_id"]))
            )
        )
        joined = p.join(c, admitted, "left").select(
            p["purchase_id"],
            p["user_id"],
            p["ts_us"],
            p["cents"],
            F.when(
                c["cts"].isNotNull(),
                F.struct(c["cts"].alias("cts"), c["cid"].alias("cid")),
            ).alias("lt_cand"),
            # RANGE-frame subset: same-instant clicks excluded entirely
            F.when(
                c["cts"].isNotNull() & (c["cts"] < p["ts_us"]),
                F.struct(c["cts"].alias("cts"), c["cid"].alias("cid")),
            ).alias("range_cand"),
            # whole-day age of a range-admitted click — the time-decay
            # read's dyadic weight exponent (gap in [1, 7d] -> age 0..6;
            # `div` = exact integer division, never IEEE)
            F.when(
                c["cts"].isNotNull() & (c["cts"] < p["ts_us"]),
                (p["ts_us"] - c["cts"] - F.lit(1)),
            ).alias("decay_gap1"),
        ).withColumn(
            "decay_age",
            F.expr(f"CAST(decay_gap1 div {_DAY_US} AS INT)"),
        )
    else:
        null_struct = F.lit(None).cast("struct<cts:bigint,cid:bigint>")
        joined = p.select(
            "purchase_id",
            "user_id",
            "ts_us",
            "cents",
            null_struct.alias("lt_cand"),
            null_struct.alias("range_cand"),
            F.lit(None).cast("int").alias("decay_age"),
        )
    pow2 = F.expr(
        f"shiftleft(CAST(1 AS BIGINT), {_DECAY_BUCKETS - 1} - CAST(decay_age AS INT))"
    )
    return joined.groupBy("purchase_id", "user_id", "ts_us", "cents").agg(
        F.max("lt_cand").alias("lt_best"),
        F.count("range_cand").cast("long").alias("n_range"),
        F.min("range_cand").alias("first_range"),
        F.max("range_cand").alias("last_range"),
        F.coalesce(
            F.sum(F.when(F.col("decay_age").isNotNull(), pow2)), F.lit(0)
        )
        .cast("long")
        .alias("decay_weight"),
    )


def read_attribution_stream(spark: SparkSession, index_dir: str) -> DataFrame:
    """Last-touch attribution from the any-split ledger — row-equal to
    ``events_attribution_last_touch`` over the same events, for ANY
    trigger split (pinned)."""
    agg = _stream_window_agg(spark, index_dir)
    hit = F.col("lt_best").isNotNull()
    return agg.select(
        "purchase_id",
        "user_id",
        F.col("cents").alias("purchase_cents"),
        F.when(hit, F.col("lt_best.cid")).alias("click_id"),
        F.when(hit, (F.col("ts_us") - F.col("lt_best.cts")).cast("long")).alias(
            "gap_us"
        ),
        hit.alias("attributed"),
    )


def read_attribution_linear_stream(
    spark: SparkSession, index_dir: str
) -> DataFrame:
    """Equal-credit attribution from the any-split ledger — row-equal to
    ``events_attribution_linear`` (pinned)."""
    agg = _stream_window_agg(spark, index_dir)
    n = F.col("n_range")
    return agg.select(
        "purchase_id",
        "user_id",
        F.col("cents").alias("purchase_cents"),
        n.alias("n_clicks_window"),
        F.when(n > 0, F.col("cents").cast("double") / n).alias("credit_per_click"),
        (n > 0).alias("attributed"),
    )


def read_attribution_position_stream(
    spark: SparkSession, index_dir: str
) -> DataFrame:
    """U-shaped attribution from the any-split ledger — row-equal to
    ``events_attribution_position`` (pinned)."""
    agg = _stream_window_agg(spark, index_dir)
    n = F.col("n_range")
    hit = n > 0
    return agg.select(
        "purchase_id",
        "user_id",
        F.col("cents").alias("purchase_cents"),
        n.alias("n_clicks_window"),
        F.when(hit, F.col("first_range.cid")).alias("first_click_id"),
        F.when(hit, F.col("last_range.cid")).alias("last_click_id"),
        F.when(n >= 2, (F.lit(40) * F.col("cents")).cast("long")).alias(
            "first_credit_x100"
        ),
        F.when(n >= 2, (F.lit(40) * F.col("cents")).cast("long")).alias(
            "last_credit_x100"
        ),
        F.when(n > 2, (F.lit(20) * F.col("cents")).cast("long")).alias(
            "middle_pool_x100"
        ),
        hit.alias("attributed"),
    )



def read_attribution_time_decay(spark: SparkSession, index_dir: str) -> DataFrame:
    """Time-decay attribution from the CALENDAR store — row-equal to
    ``events_attribution_time_decay``: same-day prior clicks are ALWAYS
    age 0 (two events on one calendar day are < 24h apart), so the
    persisted RANGE-frame count contributes 64·same_day_prior_clicks
    outright; prior-day clicks get their exact whole-day age from the
    (user_id, cts) click rows the linear read already joins — same
    date-pruned join, one more integer column."""
    fs, path_cls = hadoop_fs(spark, index_dir)
    if not fs.exists(path_cls(f"{index_dir}/purchases")):
        raise ValueError(
            f"read_attribution_time_decay: no purchases ledger at {index_dir}"
        )
    p = spark.read.parquet(f"{index_dir}/purchases").withColumn(
        "pdate", F.col("date").cast("date")
    )
    if _has_partitions(spark, f"{index_dir}/clicks"):
        c = spark.read.parquet(f"{index_dir}/clicks").select(
            F.col("user_id").alias("c_user"),
            "cts",
            F.col("date").cast("date").alias("cdate"),
        )
        joined = p.join(
            c,
            (p["user_id"] == c["c_user"])
            & (c["cdate"] < p["pdate"])
            & (c["cdate"] >= F.date_sub(p["pdate"], _LOOKBACK_DAYS))
            & (c["cts"] < p["ts_us"])
            & (p["ts_us"] - c["cts"] <= F.lit(_ATTR_WINDOW_US)),
            "left",
        ).select(
            p["purchase_id"],
            p["user_id"],
            p["ts_us"],
            p["cents"],
            p["same_day_prior_clicks"],
            F.when(
                c["cts"].isNotNull(), (p["ts_us"] - c["cts"] - F.lit(1))
            ).alias("gap1"),
        ).withColumn(
            "age", F.expr(f"CAST(gap1 div {_DAY_US} AS INT)")
        )
    else:
        joined = p.select(
            "purchase_id",
            "user_id",
            "ts_us",
            "cents",
            "same_day_prior_clicks",
            F.lit(None).cast("int").alias("age"),
        )
    pow2 = F.expr(
        f"shiftleft(CAST(1 AS BIGINT), {_DECAY_BUCKETS - 1} - CAST(age AS INT))"
    )
    counted = joined.groupBy(
        "purchase_id", "user_id", "ts_us", "cents", "same_day_prior_clicks"
    ).agg(
        F.count("age").cast("long").alias("n_prior"),
        F.coalesce(F.sum(F.when(F.col("age").isNotNull(), pow2)), F.lit(0))
        .cast("long")
        .alias("w_prior"),
    )
    n = (F.col("same_day_prior_clicks") + F.col("n_prior")).cast("long")
    weight = (
        F.col("same_day_prior_clicks") * F.lit(1 << (_DECAY_BUCKETS - 1))
        + F.col("w_prior")
    ).cast("long")
    return counted.select(
        "purchase_id",
        "user_id",
        F.col("cents").alias("purchase_cents"),
        n.alias("n_clicks_window"),
        weight.alias("weight_total"),
        F.when(n > 0, F.col("cents").cast("double") / weight).alias(
            "credit_per_weight"
        ),
        (n > 0).alias("attributed"),
    )


def read_attribution_time_decay_stream(
    spark: SparkSession, index_dir: str
) -> DataFrame:
    """Time-decay attribution from the ANY-SPLIT ledger — row-equal to
    ``events_attribution_time_decay`` for any trigger split: the shared
    window join already carries each admitted click's exact gap, so the
    decay read just buckets it."""
    agg = _stream_window_agg(spark, index_dir)
    n = F.col("n_range")
    weight = F.col("decay_weight")
    return agg.select(
        "purchase_id",
        "user_id",
        F.col("cents").alias("purchase_cents"),
        n.alias("n_clicks_window"),
        weight.alias("weight_total"),
        F.when(n > 0, F.col("cents").cast("double") / weight).alias(
            "credit_per_weight"
        ),
        (n > 0).alias("attributed"),
    )


# ---------------------------------------------------------------------------
# Any-split ledger compaction (r10) — the partition-count maintenance knob
# ---------------------------------------------------------------------------

LEDGER_BASE_KEY = "0000-base"  # reserved fold target; sorts below b<id> keys
_LEDGER_SUBTABLES = ("stream_purchases", "stream_clicks")


def compact_attribution_ledger(
    spark: SparkSession, index_dir: str, keep_from_key: str
) -> dict:
    """Fold every ``ingest_batch=`` partition with key STRICTLY BELOW
    ``keep_from_key`` (plus any existing base) of both ledger sub-tables
    into the reserved base partition ``ingest_batch=0000-base``,
    preserving the ``date=`` slicing inside it so reads keep their
    8-day partition pruning. Returns per-sub-table folded-dir counts.

    Why: the r10 economics probe measured the any-split reads growing
    <2x under 100x LEDGER AGE with constant rows — the residual is
    purely the per-trigger directory listing (one dir per micro-batch,
    unbounded in stream lifetime). Rows across batches are disjoint
    (each event lands in exactly one trigger), so the fold is a plain
    concatenation and every read is row-identical before/after (pinned).

    Discipline is the postings/feature-store base-fold: the
    ``_horizon=`` marker advances FIRST (a too-high horizon after a
    crash only refuses lands it could have accepted, never
    double-counts one); each sub-table swaps its merged base in
    through the one staged partition swap, and the next run finishes
    a swap a crash interrupted. Folding SPENDS the folded keys:
    ``land_attribution_batch`` refuses keys below the horizon (keys
    compare lexicographically — the streaming front's zero-padded
    ``b<id>`` keys order correctly; replays from a checkpoint rebuilt
    past the horizon must re-land under current keys).

    Delegates to the shared ``base_fold`` (operators/base_fold.py,
    review r10) — rows across batches are disjoint (each event lands in
    exactly one trigger), so the fold is a plain concatenation; the
    ``date=`` slicing is preserved INSIDE the base so reads keep their
    8-day partition pruning."""

    def _merge(cols):
        def merge(src):
            return (
                src.select(*cols, F.col("date").cast("string").alias("date")),
                ["date"],
            )

        return merge

    merge_cols = {
        "stream_purchases": ["purchase_id", "user_id", "ts_us", "cents"],
        "stream_clicks": ["user_id", "cts", "cid"],
    }
    return base_fold(
        spark,
        index_dir,
        keep_from_key,
        op_name="compact_attribution_ledger",
        part_key="ingest_batch",
        base_key=LEDGER_BASE_KEY,
        subtables={sub: _merge(merge_cols[sub]) for sub in _LEDGER_SUBTABLES},
    )
