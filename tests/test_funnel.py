"""Funnel analysis (operators/funnel.py): strict ordering, earliest
valid next, horizon, stall accounting, exact lags."""

from __future__ import annotations

from datetime import datetime

import pytest

from python_stream_processing_framework_spark.operators.funnel import (
    _funnel_levels,
    funnel_stats,
)


def _ts(s):
    return datetime(2024, 1, 1, 0, 0, s)


@pytest.fixture(scope="module")
def events(spark):
    rows = [
        # user 1 converts fully: view@1 -> click@5 -> buy@10
        (1, _ts(1), "view"), (1, _ts(5), "click"), (1, _ts(10), "buy"),
        # user 2: click BEFORE view — strict order rejects it; no buy
        (2, _ts(3), "click"), (2, _ts(4), "view"),
        # user 3: view only
        (3, _ts(2), "view"),
        # user 4: two views; click between them counts (after FIRST
        # view); second click later — earliest valid next wins
        (4, _ts(1), "view"), (4, _ts(2), "click"), (4, _ts(9), "view"),
        (4, _ts(20), "click"), (4, _ts(30), "buy"),
        # user 5: never viewed
        (5, _ts(1), "click"), (5, _ts(2), "buy"),
    ]
    return spark.createDataFrame(
        rows, "user_id bigint, ts timestamp, event_type string"
    )


def test_funnel_users_strict_order_and_earliest(events):
    out = {
        r["user_id"]: r
        for r in _funnel_levels(
            events, "user_id", "ts", "event_type", ["view", "click", "buy"], None
        )[-1].collect()
    }
    assert set(out) == {1, 4}
    assert (out[1]["t2_ms"] - out[1]["t1_ms"]) == 4000
    assert (out[1]["t3_ms"] - out[1]["t2_ms"]) == 5000
    # user 4: first view@1, earliest click after it is @2, buy @30
    assert (out[4]["t2_ms"] - out[4]["t1_ms"]) == 1000
    assert (out[4]["t3_ms"] - out[4]["t2_ms"]) == 28000


def test_funnel_stats_counts_and_lags(events):
    rows = funnel_stats(
        events, "user_id", "ts", "event_type", ["view", "click", "buy"]
    ).collect()
    by_step = {r["step"]: r for r in rows}
    assert [r["step_idx"] for r in sorted(rows, key=lambda r: r["step_idx"])] == [1, 2, 3]
    assert by_step["view"]["n_users"] == 4          # users 1,2,3,4
    assert by_step["view"]["total_lag_ms"] == 0
    assert by_step["click"]["n_users"] == 2         # users 1,4
    assert by_step["click"]["total_lag_ms"] == 4000 + 1000
    assert by_step["buy"]["n_users"] == 2
    assert by_step["buy"]["total_lag_ms"] == 5000 + 28000


def test_horizon_cuts_slow_hops(events):
    out = {
        r["step"]: r
        for r in funnel_stats(
            events, "user_id", "ts", "event_type", ["view", "click", "buy"],
            horizon_ms=10_000,
        ).collect()
    }
    # user 4's buy is 28s after the click — outside the 10s horizon
    assert out["click"]["n_users"] == 2
    assert out["buy"]["n_users"] == 1
    assert out["buy"]["total_lag_ms"] == 5000


def test_empty_steps_guard(events):
    with pytest.raises(ValueError, match="at least one"):
        _funnel_levels(events, "user_id", "ts", "event_type", [], None)
    with pytest.raises(ValueError, match="at least one"):
        funnel_stats(events, "user_id", "ts", "event_type", [])


def test_retention_cohorts_crafted(spark):
    from python_stream_processing_framework_spark.operators.funnel import (
        retention_cohorts,
    )

    day = 86_400_000

    def ts(day_idx):
        return datetime.utcfromtimestamp(day_idx * day / 1000)

    rows = [
        # users 1,2 start day 0 (cohort 0); 1 returns day 1 and 3,
        # 2 never returns; user 3 starts day 1 (cohort 1), returns
        # day 2 twice (distinct collapses)
        (1, ts(0)), (1, ts(1)), (1, ts(3)),
        (2, ts(0)),
        (3, ts(1)), (3, ts(2)), (3, ts(2)),
    ]
    df = spark.createDataFrame(rows, "user_id bigint, ts timestamp")
    out = {
        (r["cohort_period"], r["offset"]): (r["n_cohort"], r["n_active"])
        for r in retention_cohorts(
            df, "user_id", "ts", period="day", n_periods=4
        ).collect()
    }
    assert out[(0, 0)] == (2, 2)
    assert out[(0, 1)] == (2, 1)   # only user 1 came back
    assert out[(0, 3)] == (2, 1)
    assert (0, 2) not in out       # nobody active day 2 from cohort 0
    assert out[(1, 0)] == (1, 1)
    assert out[(1, 1)] == (1, 1)   # user 3's day-2 activity, deduped


def test_retention_guards(spark):
    from python_stream_processing_framework_spark.operators.funnel import (
        retention_cohorts,
    )

    df = spark.createDataFrame(
        [(1, datetime(2024, 1, 1))], "user_id bigint, ts timestamp"
    )
    with pytest.raises(ValueError, match="period"):
        retention_cohorts(df, "user_id", "ts", period="month")
    with pytest.raises(ValueError, match="n_periods"):
        retention_cohorts(df, "user_id", "ts", n_periods=0)
