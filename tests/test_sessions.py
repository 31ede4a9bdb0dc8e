"""Emit-on-close streaming sessionization (streaming/sessions.py).

The reference silently DROPS a session when the gap expires
(pspf/stream.py:436-446) — these tests pin the fixed semantics: every
closed session emits exactly one row, both when the close happens
in-batch (a later event arrives) and when it happens via the
event-time timer (the stream goes quiet and the watermark passes
last + gap).
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from python_stream_processing_framework_spark.streaming import Stream

EVENT_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("timestamp", DoubleType()),
        StructField("value", DoubleType()),
    ]
)

SESSION_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("session_start_ms", LongType()),
        StructField("session_end_ms", LongType()),
        StructField("n_events", LongType()),
        StructField("state_json", StringType()),
    ]
)


def _make_sum_fold():
    # defined per-test via a factory: cloudpickle serializes LOCAL
    # functions by value, so executors never need the test module
    def _sum_fold(event: dict, state) -> float:
        return (state or 0.0) + float(event["value"])

    return _sum_fold


@pytest.fixture()
def stream(spark, tmp_path):
    return Stream(spark, str(tmp_path / "broker"))


def _sessions(stream):
    return sorted(
        (
            r["key"],
            r["session_start_ms"],
            r["session_end_ms"],
            r["n_events"],
            json.loads(r["state_json"]),
        )
        for r in stream.read_topic("s-sessions", SESSION_SCHEMA).collect()
    )


def test_sessionize_in_batch_and_timer_close(spark, stream):
    # u: events at 10s and 14s merge (gap 5s); 40s starts a new session,
    # closing the first IN-BATCH. The second session (timeout 45s) stays
    # open: watermark after this batch is 40s - 2s = 38s < 45s.
    # (Timestamps sit off epoch 0: Spark's stateful late-row filter
    # drops an event at exactly t=0 against the INITIAL watermark 0.)
    stream.emit(
        "s",
        {"key": "u", "timestamp": 10.0, "value": 1.0},
        {"key": "u", "timestamp": 14.0, "value": 2.0},
        {"key": "u", "timestamp": 40.0, "value": 4.0},
    )
    stream.sessionize(
        "s",
        EVENT_SCHEMA,
        key_field="key",
        gap_ms=5_000,
        fold=_make_sum_fold(),
        watermark_delay_ms=2_000,
    )
    stream.run_until_idle()
    assert _sessions(stream) == [("u", 10_000, 19_000, 2, 3.0)]

    # A much later event on another key pushes the watermark past 45s:
    # u's open session closes via the EVENT-TIME TIMER, exactly once.
    stream.emit("s", {"key": "w", "timestamp": 100.0, "value": 9.0})
    stream.run_until_idle()
    assert _sessions(stream) == [
        ("u", 10_000, 19_000, 2, 3.0),
        ("u", 40_000, 45_000, 1, 4.0),
    ]


@pytest.mark.slow
def test_sessionize_matches_batch_session_fold(spark, stream):
    """Closed streaming sessions carry the same boundaries/fold values
    as the batch `session_fold` over the same events (session_end here
    is last + gap — `F.session_window`'s end semantics)."""
    from pyspark.sql import functions as F

    from python_stream_processing_framework_spark.streaming.state import session_fold

    events = [
        {"key": "a", "timestamp": 1.0, "value": 2.0},
        {"key": "a", "timestamp": 3.0, "value": 3.0},
        {"key": "a", "timestamp": 20.0, "value": 5.0},
        {"key": "b", "timestamp": 2.0, "value": 7.0},
    ]
    stream.emit("s", *events)
    stream.sessionize(
        "s",
        EVENT_SCHEMA,
        key_field="key",
        gap_ms=5_000,
        fold=_make_sum_fold(),
        watermark_delay_ms=0,
    )
    stream.run_until_idle()
    # close everything that's still open
    stream.emit("s", {"key": "zz", "timestamp": 1000.0, "value": 0.0})
    stream.run_until_idle()
    streamed = {
        (k, s, e): (n, st) for k, s, e, n, st in _sessions(stream) if k != "zz"
    }

    batch_df = spark.createDataFrame(
        [(e["key"], e["timestamp"], e["value"]) for e in events], EVENT_SCHEMA
    ).withColumn("timestamp", F.col("timestamp").cast("timestamp"))
    batched = {
        (
            r["key"],
            r["session_start_us"] // 1000,
            r["session_end_us"] // 1000,
        ): (r["n_events"], json.loads(r["state_json"]))
        for r in session_fold(
            batch_df, "key", "timestamp", "5 seconds", _make_sum_fold()
        ).collect()
    }
    assert streamed == batched


def test_sessionize_exactly_once_across_reruns(spark, stream):
    """Re-running the drained topology must not re-emit closed sessions
    (checkpointed state + offsets)."""
    stream.emit(
        "s",
        {"key": "u", "timestamp": 10.0, "value": 1.0},
        {"key": "u", "timestamp": 40.0, "value": 2.0},
    )
    stream.sessionize(
        "s", EVENT_SCHEMA, key_field="key", gap_ms=5_000, fold=_make_sum_fold()
    )
    stream.run_until_idle()
    first = _sessions(stream)
    assert ("u", 10_000, 15_000, 1, 1.0) in first
    stream.run_until_idle()  # no new data: nothing may duplicate
    assert _sessions(stream) == first


def test_event_at_initial_watermark_never_reaches_the_fold(spark, stream):
    """Input contract (docs/streaming.md § Sessions): Spark's stateful
    late-row filter drops an event at exactly the initial watermark
    (0 ms). With watermark_delay_ms=0 an event at epoch 0 never reaches
    the fold: its key opens no session, even after the watermark passes
    0 + gap. An event 1 ms later folds normally."""
    stream.emit(
        "s",
        {"key": "zero", "timestamp": 0.0, "value": 1.0},
        {"key": "later", "timestamp": 0.001, "value": 2.0},
    )
    stream.sessionize(
        "s",
        EVENT_SCHEMA,
        key_field="key",
        gap_ms=5_000,
        fold=_make_sum_fold(),
        watermark_delay_ms=0,
    )
    stream.run_until_idle()
    # a much later event pushes the watermark past every open session
    stream.emit("s", {"key": "w", "timestamp": 100.0, "value": 9.0})
    stream.run_until_idle()
    assert _sessions(stream) == [("later", 1, 5_001, 1, 2.0)]
