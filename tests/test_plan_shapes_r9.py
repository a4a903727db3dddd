"""Round-9 plan-shape gates.

1. The UNPARTITIONED-WINDOW GATE (VERDICT r8 #4): walks EVERY registered
   spec's executed plan, extracts Window operators with an ORDER but no
   PARTITION spec (the single-task global-sort shape), and asserts each
   offending lane is in an explicit allowlist of domain-bounded sites —
   histogram coarse buckets, calendar days, reduced top-k aggregates,
   dim-bounded demo lanes. A future lane adding a global window over
   row-bounded input fails here loudly instead of shipping a 100 TB
   single-task sort.

2. feature_negative_sampling's part-rank pin (VERDICT r8 #3): the rank
   index must be the two-phase coarse prefix sum — the only
   unpartitioned window runs over the coarse-range AGGREGATE, and the
   per-key row_number partitions by coarse.
"""

from __future__ import annotations

import re

from data_ingestion_lambda_spark.plans import all_specs

from .conftest import SF_SMOKE

# Every lane allowed to carry an ordered-but-unpartitioned Window, with
# the bound that makes it safe. Additions require justifying the bound
# here — that's the point.
UNPARTITIONED_WINDOW_ALLOWLIST = {
    # reduced-aggregate top-k / ranking (input rows = distinct groups)
    "agg_market_basket": "lift rank over the candidate PAIR aggregate",
    "text_top_terms": "rank over the token-count aggregate",
    "text_collocations_lift": "rank over the bigram-pair aggregate",
    "profile_heavy_hitters_mg": "rank over <=k retained MG counters",
    "events_user_lorenz": "cumsum over the frequency SPECTRUM (distinct n)",
    # coarse-bucket two-phase prefix sums (input rows = value-domain/coarse)
    "events_interarrival_hist": "offset cumsum over coarse gap ranges",
    "events_funnel_latency_hist": "offset cumsum over coarse latency ranges",
    "feature_quantile_bucketize": "offset cumsum over coarse cent ranges",
    "feature_negative_sampling": "offset cumsum over coarse partkey ranges",
    # calendar-bounded (input rows = days)
    "events_cumulative_reach": "running union over calendar days",
    "profile_null_drift_daily": "day-over-day lag over calendar days",
    # score-domain-bounded (input rows = distinct score values; a
    # continuous score would be bucketed first, as the quantile lanes do)
    "eval_binary_auc": "neg-below cumsum over the distinct-score aggregate",
    "eval_precision_recall_curve": "tp/fp cumsum over the distinct-score aggregate",
    "eval_rank_correlation": "avg-rank cumsum over the two distinct-score aggregates",
    "profile_ks_statistic": "CDF cumsum over the merged distinct-value aggregate",
    "agg_pareto_abc": "cum-revenue walk over coarse revenue buckets (value-domain)",
    # dim-bounded window-family DEMO lanes (suppliers; documented in
    # plans/windows.py's module discipline)
    "win_rank_dense_ntile": "supplier dim demo",
    "win_range_frame": "supplier dim demo",
    # label-domain-bounded (input rows = distinct class labels)
    "eval_confusion_multiclass": "macro/micro totals over the per-CLASS aggregate",
}


def _top_level_groups(s: str) -> list[str]:
    groups, depth, cur = [], 0, []
    for ch in s:
        if ch == "[":
            depth += 1
            if depth == 1:
                cur = []
                continue
        elif ch == "]":
            depth -= 1
            if depth == 0:
                groups.append("".join(cur))
                continue
        if depth >= 1:
            cur.append(ch)
    return groups


def unpartitioned_windows(plan: str) -> list[str]:
    """Ordered-but-unpartitioned Window operators in an executed-plan
    string. Spark prints ``Window [exprs], [partSpec], [orderSpec]``;
    with no partition the middle group is gone, so a 2-group line whose
    second group carries sort directions (ASC/DESC) is a global ordered
    window. (A 2-group line WITHOUT directions is partitionBy-without-
    orderBy — parallel, fine.) A 1-group line has neither spec."""
    out = []
    for line in plan.splitlines():
        m = re.search(r"\bWindow (\[.*)$", line)
        if not m:
            continue
        groups = _top_level_groups(m.group(1))
        if len(groups) == 1 or (
            len(groups) == 2
            and (" ASC" in groups[1] or " DESC" in groups[1])
        ):
            out.append(line.strip()[:200])
    return out


def test_no_lane_adds_an_unallowlisted_global_window(lane_plans):
    offenders: dict[str, list[str]] = {}
    for name, p in lane_plans.items():
        hits = unpartitioned_windows(p.executed)
        if hits:
            offenders[name] = hits
    unexpected = {
        n: h for n, h in offenders.items() if n not in UNPARTITIONED_WINDOW_ALLOWLIST
    }
    assert not unexpected, (
        "lanes with NEW ordered-but-unpartitioned Window operators (a "
        "single-task global sort at scale) — either repartition the "
        "window or justify a domain bound in the allowlist:\n"
        + "\n".join(f"{n}: {h[0]}" for n, h in sorted(unexpected.items()))
    )
    # the allowlist must not rot: every entry still has its window (a
    # lane that lost it should leave the list)
    stale = sorted(set(UNPARTITIONED_WINDOW_ALLOWLIST) - set(offenders))
    assert not stale, f"allowlist entries without a global window: {stale}"


def test_negative_sampling_part_rank_is_two_phase(spark):
    """The part-rank index must never be a global row_number over the
    part dim (ADVICE r8): the row_number partitions by coarse, and the
    only unpartitioned window's input is the coarse-range aggregate."""
    df = all_specs()["feature_negative_sampling"].builder(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    hits = unpartitioned_windows(plan)
    assert len(hits) == 1 and "coarse" in hits[0], hits
    # the per-key rank is partitioned (parallel): a 3-group Window whose
    # partition spec names coarse
    partitioned = [
        ln
        for ln in plan.splitlines()
        if re.search(r"\bWindow \[", ln)
        and len(_top_level_groups(ln[ln.index("[") :])) == 3
        and "coarse" in _top_level_groups(ln[ln.index("[") :])[1]
    ]
    assert partitioned, f"coarse-partitioned row_number missing:\n{plan[:3000]}"
    # and the index still broadcasts into the candidate join
    assert "BroadcastHashJoin" in plan
