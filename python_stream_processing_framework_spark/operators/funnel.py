"""Funnel analysis — ordered multi-step conversion over an event
stream.

Beyond-reference capability (SURVEY §2.7 charter adjacency): the
classic product-analytics query every event pipeline serves — "of the
users who VIEWED, how many then CLICKED, then PURCHASED, and how long
did each hop take?" — with strict event-time ordering (each step must
occur strictly after the user's previous step) and an optional
per-hop horizon.

Semantics (deterministic): a user's step-1 time is their EARLIEST
step-1 event; their step-k time is their earliest step-k event
STRICTLY AFTER their step-(k-1) time (and within ``horizon_ms`` of it
when set). "Earliest valid next" is the standard funnel definition
and makes the result a pure function of the event set — no
order-of-processing dependence.

Scale shape: step k is ONE filtered scan of the events reduced to
narrow (user, ms) rows, an equi-join on the user id against the
previous step's per-user frame (one row per surviving user — shrinks
monotonically down the funnel), and a per-user min aggregation with
map-side partials. No window sort over the raw stream, no
applyInPandas, no driver data. Timestamps compare as epoch
milliseconds (exact BIGINTs), so lags sum order-free and any engine
reproduces them bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _funnel_levels(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    steps: list[str],
    horizon_ms: int | None,
) -> list[DataFrame]:
    """One frame per funnel level: level i is (user, t1_ms .. ti_ms),
    one row per user who completed steps 1..i in order. Each level
    derives from the previous one, never from a from-scratch prefix
    rerun; users who stalled at step j are what `funnel_stats`
    counts."""
    if len(steps) < 1:
        raise ValueError("steps must name at least one event type")
    cur = (
        events.filter(F.col(type_col) == steps[0])
        .groupBy(user_col)
        .agg(F.min(F.unix_millis(F.col(ts_col))).alias("t1_ms"))
    )
    levels = [cur]
    for i, step in enumerate(steps[1:], start=2):
        prev = f"t{i - 1}_ms"
        nxt = events.filter(F.col(type_col) == step).select(
            user_col, F.unix_millis(F.col(ts_col)).alias("_ts")
        )
        joined = nxt.join(cur, [user_col]).filter(F.col("_ts") > F.col(prev))
        if horizon_ms is not None:
            joined = joined.filter(
                F.col("_ts") <= F.col(prev) + F.lit(int(horizon_ms))
            )
        carried = [F.min(f"t{j}_ms").alias(f"t{j}_ms") for j in range(1, i)]
        cur = joined.groupBy(user_col).agg(
            *carried, F.min("_ts").alias(f"t{i}_ms")
        )
        levels.append(cur)
    return levels


def funnel_stats(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    steps: list[str],
    *,
    horizon_ms: int | None = None,
) -> DataFrame:
    """The funnel report: one row per step — (step_idx, step,
    n_users, total_lag_ms) where n_users is how many users reached
    the step under the ordered rule and total_lag_ms the exact sum of
    their hop latencies from the previous step (0 for step 1). All
    BIGINT; engine-exact."""
    levels = _funnel_levels(events, user_col, ts_col, type_col, steps, horizon_ms)
    out = None
    for i, frame in enumerate(levels, start=1):
        lag = (
            F.lit(0).cast("bigint")
            if i == 1
            else F.coalesce(
                F.sum(F.col(f"t{i}_ms") - F.col(f"t{i - 1}_ms")), F.lit(0)
            ).cast("bigint")
        )
        row = frame.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            lag.alias("total_lag_ms"),
        ).select(
            F.lit(i).cast("int").alias("step_idx"),
            F.lit(steps[i - 1]).alias("step"),
            "n_users",
            "total_lag_ms",
        )
        out = row if out is None else out.unionByName(row)
    return out


#: Milliseconds per cohort period.
PERIOD_MS = {"day": 86_400_000, "week": 604_800_000}


def retention_cohorts(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    *,
    period: str = "week",
    n_periods: int = 8,
) -> DataFrame:
    """Cohort retention — the other half of the product-analytics
    pair (funnel = conversion, retention = comeback): bucket every
    user into the period of their FIRST event (their cohort), then
    count how many of each cohort were active 0, 1, ... n-1 periods
    later.

    Returns (cohort_period, offset, n_cohort, n_active): epoch-period
    index of the cohort (epoch_ms DIV period_ms — fixed epoch
    alignment, documented), the period offset, the cohort's size, and
    how many of its users had any event in cohort+offset. All-integer
    arithmetic; engine-exact.

    Scale shape: one scan to per-user first-event periods (groupBy
    min, map-side partials), one scan to DISTINCT (user, period)
    activity rows — both narrow BIGINT frames — an equi-join on the
    user id, and a (cohort, offset) count. No window functions, no
    driver data."""
    if period not in PERIOD_MS:
        raise ValueError(f"period must be one of {sorted(PERIOD_MS)}, got {period}")
    if n_periods < 1:
        raise ValueError(f"n_periods must be >= 1, got {n_periods}")
    pms = PERIOD_MS[period]
    pcol = F.expr(f"unix_millis({ts_col}) DIV {pms}").cast("bigint")
    firsts = events.groupBy(user_col).agg(
        F.min(pcol).alias("cohort_period")
    )
    activity = events.select(
        F.col(user_col), pcol.alias("p")
    ).distinct()
    cells = (
        activity.join(firsts, [user_col])
        .withColumn("offset", (F.col("p") - F.col("cohort_period")).cast("int"))
        .filter((F.col("offset") >= 0) & (F.col("offset") < n_periods))
        .groupBy("cohort_period", "offset")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_active"))
    )
    sizes = firsts.groupBy("cohort_period").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cohort")
    )
    return cells.join(sizes, ["cohort_period"]).select(
        "cohort_period", "offset", "n_cohort", "n_active"
    )


# ---------------------------------------------------------------------------
# Incremental (fold) forms — the streaming duals of funnel_stats /
# retention_cohorts, shaped for streaming/state.keyed_fold_stream
# (fold(event, state) -> state per key, the reference's stateful-
# handler contract, pspf/stream.py:325-347). Both folds are EXACT
# duals: folding a key's events in event-time order (which keyed_fold
# and keyed_fold_stream both guarantee within their scope) produces
# the same per-user state the batch operator derives, so the
# *_from_states reports below equal the batch reports row-for-row.
# Cross-micro-batch ordering is the streaming caveat: funnel state
# never rewinds, so an event arriving in a LATER micro-batch with an
# EARLIER timestamp than already-folded events can under-fill the
# funnel relative to a batch recompute (retention is immune — its
# fold rebases exactly on out-of-order arrivals). Pair with the
# facade's watermark admission where that matters.
# ---------------------------------------------------------------------------


def funnel_fold(
    steps: list[str],
    type_field: str,
    ts_ms_field: str,
    *,
    horizon_ms: int | None = None,
):
    """(fold, init) reproducing _funnel_levels' earliest-valid-next
    state per user. State: {"t": [t1_ms..tk_ms], None = step not
    reached}. In ascending event-time order each t_i is set at most
    once (the first qualifying event is the minimum), which is why
    the fold equals the batch semantics; the min-guards keep it
    monotone (never worse) under unsorted input."""
    if len(steps) < 1:
        raise ValueError("steps must name at least one event type")
    idx = {s: i for i, s in enumerate(steps)}
    k = len(steps)

    def fold(event: dict, st):
        st = st if st is not None else {"t": [None] * k}
        i = idx.get(event[type_field])
        if i is None:
            return st
        ts = int(event[ts_ms_field])
        t = st["t"]
        if i == 0:
            if t[0] is None or ts < t[0]:
                t[0] = ts
        else:
            prev = t[i - 1]
            if (
                prev is not None
                and ts > prev
                and (horizon_ms is None or ts <= prev + int(horizon_ms))
                and (t[i] is None or ts < t[i])
            ):
                t[i] = ts
        return st

    return fold, {"t": [None] * k}


def funnel_stats_from_states(
    states: DataFrame, steps: list[str], state_col: str = "state_json"
) -> DataFrame:
    """funnel_stats' exact report schema (step_idx, step, n_users,
    total_lag_ms) from folded per-user states — one narrow scan + one
    global aggregate over k columns, then a k-row driver-side unpivot
    (k = number of steps, a constant)."""
    k = len(steps)
    s = states.select(
        F.from_json(F.col(state_col), "struct<t:array<bigint>>")["t"].alias("_t")
    )
    aggs = []
    for i in range(k):
        aggs.append(
            F.count(F.when(F.col("_t")[i].isNotNull(), 1))
            .cast("bigint")
            .alias(f"_n{i}")
        )
        lag = (
            F.lit(0).cast("bigint")
            if i == 0
            else F.coalesce(
                F.sum(F.col("_t")[i] - F.col("_t")[i - 1]), F.lit(0)
            ).cast("bigint")
        )
        aggs.append(lag.alias(f"_l{i}"))
    one = s.agg(*aggs)
    rows = None
    for i in range(k):
        row = one.select(
            F.lit(i + 1).cast("int").alias("step_idx"),
            F.lit(steps[i]).alias("step"),
            F.col(f"_n{i}").alias("n_users"),
            F.col(f"_l{i}").alias("total_lag_ms"),
        )
        rows = row if rows is None else rows.unionByName(row)
    return rows


def retention_fold(ts_ms_field: str, *, period: str = "week", n_periods: int = 8):
    """(fold, init) reproducing retention_cohorts' per-user state:
    {"c": cohort_period, "p": sorted distinct offsets in [0,
    n_periods)}. EXACT under any arrival order: an event earlier than
    the current cohort rebases every kept offset (offsets only grow
    under a rebase, so nothing pruned could have re-entered the
    horizon). State is bounded by n_periods ints."""
    if period not in PERIOD_MS:
        raise ValueError(f"period must be one of {sorted(PERIOD_MS)}, got {period}")
    if n_periods < 1:
        raise ValueError(f"n_periods must be >= 1, got {n_periods}")
    pms = PERIOD_MS[period]

    def fold(event: dict, st):
        p = int(event[ts_ms_field]) // pms
        if st is None:
            return {"c": p, "p": [0]}
        c = st["c"]
        if p < c:
            shift = c - p
            offs = [o + shift for o in st["p"] if o + shift < n_periods]
            st["c"] = p
            st["p"] = sorted(set(offs) | {0})
            return st
        off = p - c
        if 0 <= off < n_periods and off not in st["p"]:
            st["p"] = sorted(set(st["p"]) | {off})
        return st

    return fold, None


def retention_from_states(
    states: DataFrame, state_col: str = "state_json"
) -> DataFrame:
    """retention_cohorts' exact report schema (cohort_period, offset,
    n_cohort, n_active) from folded per-user states: one explode +
    one (cohort, offset) count, one cohort count, one join — all on
    narrow integer frames."""
    parsed = states.select(
        F.from_json(
            F.col(state_col), "struct<c:bigint,p:array<int>>"
        ).alias("_s")
    ).select(F.col("_s")["c"].alias("cohort_period"), F.col("_s")["p"].alias("_p"))
    cells = (
        parsed.select("cohort_period", F.explode("_p").alias("offset"))
        .groupBy("cohort_period", "offset")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_active"))
    )
    sizes = parsed.groupBy("cohort_period").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cohort")
    )
    return cells.join(sizes, ["cohort_period"]).select(
        "cohort_period", "offset", "n_cohort", "n_active"
    )
