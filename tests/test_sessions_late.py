"""Attributed late-data capture for streaming sessions (the grace_ms
mode of streaming/sessions.py — SURVEY hard part #3).

The reference routes late events to a `{topic}-late` DLQ BEFORE any
session attribution exists (pspf/stream.py:402-413). The grace mode
captures a straggler AFTER its session closed, attributed to that
session's boundaries, instead of Spark's silent stateful late-row
drop. These tests drive the applyInPandasWithState path end-to-end
through the facade.
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
from python_stream_processing_framework_spark.streaming.sessions import (
    sessionize_stream,
)

# Heavyweight battery: slow tier (see pyproject addopts; VERDICT r15 #1)
pytestmark = pytest.mark.slow

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

LATE_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("_ts_ms", LongType()),
        StructField("_session_start_ms", LongType()),
        StructField("_session_end_ms", LongType()),
        StructField("_event_json", StringType()),
    ]
)


def _make_sum_fold():
    def _sum_fold(event: dict, state) -> float:
        return (state or 0.0) + float(event["value"])

    return _sum_fold


@pytest.fixture()
def stream(spark, tmp_path):
    return Stream(spark, str(tmp_path / "broker"))


def _sessions(stream, topic="s-sessions"):
    return sorted(
        (
            r["key"],
            r["session_start_ms"],
            r["session_end_ms"],
            r["n_events"],
            json.loads(r["state_json"]),
        )
        for r in stream.read_topic(topic, SESSION_SCHEMA).collect()
    )


def _lates(stream, topic="s-late"):
    return sorted(
        (
            r["key"],
            r["_ts_ms"],
            r["_session_start_ms"],
            r["_session_end_ms"],
            json.loads(r["_event_json"]),
        )
        for r in stream.read_topic(topic, LATE_SCHEMA).collect()
    )


def test_straggler_after_timer_close_is_captured_with_attribution(spark, stream):
    # gap 5s, delay 2s, grace 20s. Wave 1: u@10,u@14 form a session;
    # v@30 pushes the BUSINESS watermark to 28s > 19s, closing it via
    # the (grace-shifted) timer. Spark's own watermark is delayed by
    # the grace (30-22 = 8s), so the wave-2 straggler u@13 — hopeless
    # under plain semantics — still reaches the processor, matches the
    # closed session's tombstone (13 <= 14+5), and lands in s-late
    # WITH the session's boundaries.
    stream.sessionize(
        "s",
        EVENT_SCHEMA,
        key_field="key",
        gap_ms=5_000,
        fold=_make_sum_fold(),
        watermark_delay_ms=2_000,
        grace_ms=20_000,
    )
    stream.emit(
        "s",
        {"key": "u", "timestamp": 10.0, "value": 1.0},
        {"key": "u", "timestamp": 14.0, "value": 2.0},
        {"key": "v", "timestamp": 30.0, "value": 9.0},
    )
    stream.run_until_idle()
    assert ("u", 10_000, 19_000, 2, 3.0) in _sessions(stream)
    assert _lates(stream) == []

    stream.emit("s", {"key": "u", "timestamp": 13.0, "value": 7.0})
    stream.run_until_idle()
    lates = _lates(stream)
    assert len(lates) == 1
    key, ts_ms, s_start, s_end, event = lates[0]
    assert (key, ts_ms, s_start, s_end) == ("u", 13_000, 10_000, 19_000)
    assert event["key"] == "u" and event["value"] == 7.0
    # the straggler did NOT create a spurious session or mutate the old one
    assert ("u", 10_000, 19_000, 2, 3.0) in _sessions(stream)
    assert [s for s in _sessions(stream) if s[0] == "u"] == [
        ("u", 10_000, 19_000, 2, 3.0)
    ]


def test_straggler_after_in_batch_close_is_captured(spark, stream):
    # u@40 closes the first session IN-BATCH (gap exceeded), leaving
    # its tombstone; the wave-2 straggler u@16 (<= 14+5) attributes to
    # it while u's SECOND session stays open and untouched.
    stream.sessionize(
        "s",
        EVENT_SCHEMA,
        key_field="key",
        gap_ms=5_000,
        fold=_make_sum_fold(),
        watermark_delay_ms=2_000,
        grace_ms=60_000,
    )
    stream.emit(
        "s",
        {"key": "u", "timestamp": 10.0, "value": 1.0},
        {"key": "u", "timestamp": 14.0, "value": 2.0},
        {"key": "u", "timestamp": 40.0, "value": 4.0},
    )
    stream.run_until_idle()
    assert _sessions(stream) == [("u", 10_000, 19_000, 2, 3.0)]

    stream.emit("s", {"key": "u", "timestamp": 16.0, "value": 5.0})
    stream.run_until_idle()
    assert [(k, t, s, e) for k, t, s, e, _ in _lates(stream)] == [
        ("u", 16_000, 10_000, 19_000)
    ]
    # close the open session and check it was never perturbed
    stream.emit("s", {"key": "w", "timestamp": 500.0, "value": 0.0})
    stream.run_until_idle()
    assert ("u", 40_000, 45_000, 1, 4.0) in _sessions(stream)


def test_straggler_past_grace_is_dropped_silently(spark, stream):
    # After the watermark passes the tombstone GC boundary, a matching
    # straggler is older than Spark's (grace-delayed) late-row filter
    # and never reaches the processor: no late row, no session change.
    stream.sessionize(
        "s",
        EVENT_SCHEMA,
        key_field="key",
        gap_ms=5_000,
        fold=_make_sum_fold(),
        watermark_delay_ms=2_000,
        grace_ms=10_000,
    )
    stream.emit(
        "s",
        {"key": "u", "timestamp": 10.0, "value": 1.0},
        {"key": "v", "timestamp": 100.0, "value": 9.0},  # spark wm -> 88s
    )
    stream.run_until_idle()
    before_sessions = _sessions(stream)
    assert ("u", 10_000, 15_000, 1, 1.0) in before_sessions

    stream.emit("s", {"key": "u", "timestamp": 12.0, "value": 7.0})
    stream.run_until_idle()
    assert _lates(stream) == []
    assert _sessions(stream) == before_sessions


def test_grace_mode_exactly_once_across_reruns(spark, stream):
    stream.sessionize(
        "s",
        EVENT_SCHEMA,
        key_field="key",
        gap_ms=5_000,
        fold=_make_sum_fold(),
        watermark_delay_ms=2_000,
        grace_ms=20_000,
    )
    stream.emit(
        "s",
        {"key": "u", "timestamp": 10.0, "value": 1.0},
        {"key": "v", "timestamp": 30.0, "value": 9.0},
    )
    stream.run_until_idle()
    stream.emit("s", {"key": "u", "timestamp": 12.0, "value": 7.0})
    stream.run_until_idle()
    sessions, lates = _sessions(stream), _lates(stream)
    assert len(lates) == 1
    stream.run_until_idle()  # no new data: nothing may duplicate
    assert _sessions(stream) == sessions
    assert _lates(stream) == lates


def test_grace_requires_watermark_delay(spark):
    df = spark.createDataFrame([("u", 1.0, 1.0)], EVENT_SCHEMA)
    with pytest.raises(ValueError, match="watermark_delay"):
        sessionize_stream(
            df, "key", "timestamp", 5_000, _make_sum_fold(), grace_ms=1_000
        )


def test_grace_sessions_exactly_once_across_crash_replay(spark, tmp_path):
    """Chaos variant (the tests/test_chaos.py contract applied to the
    grace path): the query dies AFTER the sink write but BEFORE the
    checkpoint commit — the worst-case foreachBatch retry window. The
    idempotent per-batch_id writer must make the replay overwrite its
    own files, and the state store must roll the session/tombstone
    state back with the uncommitted batch, so sessions and attributed
    late rows both come out exactly once."""
    import json as _json

    from pyspark.sql import functions as F

    from python_stream_processing_framework_spark.streaming.sessions import (
        sessionize_stream,
    )
    from python_stream_processing_framework_spark.streaming.stream import (
        _write_batch_jsonl,
    )

    src_dir = tmp_path / "src"
    src_dir.mkdir()
    sink_dir = tmp_path / "sink"
    sink_dir.mkdir()
    ckpt = str(tmp_path / "ck")
    killed: set[int] = set()

    def drain_with_chaos():
        """Run to completion, killing the FIRST attempt of every
        row-bearing batch; each death is followed by a restart on the
        same checkpoint."""
        for _ in range(10):
            src = (
                spark.readStream.schema(EVENT_SCHEMA)
                .json(str(src_dir))
                .withColumn("timestamp", F.timestamp_seconds(F.col("timestamp")))
            )
            out = sessionize_stream(
                src, "key", "timestamp", 5_000, _make_sum_fold(),
                watermark_delay="2 seconds", grace_ms=20_000,
            )

            def wr(batch, bid):
                if batch.isEmpty():
                    return
                _write_batch_jsonl(batch, str(sink_dir), bid)
                if bid not in killed:
                    killed.add(bid)
                    raise RuntimeError("chaos kill")

            q = (
                out.writeStream.foreachBatch(wr)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            try:
                q.awaitTermination()
                return
            except Exception as exc:  # noqa: BLE001 — the chaos kill
                assert "chaos kill" in str(exc) or "Streaming" in str(exc)
        raise AssertionError("query never completed a clean run")

    (src_dir / "w1.json").write_text(
        "\n".join(
            _json.dumps({"key": k, "timestamp": t, "value": v})
            for k, t, v in [("u", 10.0, 1.0), ("u", 14.0, 2.0), ("v", 30.0, 9.0)]
        )
    )
    drain_with_chaos()
    (src_dir / "w2.json").write_text(
        _json.dumps({"key": "u", "timestamp": 13.0, "value": 7.0})
    )
    drain_with_chaos()

    assert killed, "chaos never fired — the test lost its teeth"
    rows = [
        _json.loads(line)
        for f in sink_dir.glob("*.json")
        for line in f.read_text().splitlines()
    ]
    sessions = sorted(
        (r["key"], r["session_start_ms"], r["session_end_ms"], r["n_events"])
        for r in rows
        if r["kind"] == "session"
    )
    lates = [
        (r["key"], r["ts_ms"], r["session_start_ms"], r["session_end_ms"])
        for r in rows
        if r["kind"] == "late"
    ]
    # exactly once each, despite every row-bearing batch being replayed
    assert sessions == [("u", 10_000, 19_000, 2)]
    assert lates == [("u", 13_000, 10_000, 19_000)]


def test_ancient_event_not_misattributed_to_tombstone(spark, stream):
    """The straggler match has a LOWER bound too: an event far older
    than the closed session (outside gap of its start) would never
    have merged into it, so it must NOT be emitted as that session's
    late row — it falls through to the normal fold instead."""
    # numbers chosen so the session CLOSES (spark wm 111.5-62 = 49.5
    # passes the grace-shifted close boundary 104+5-60 = 49) while the
    # ancient event at t=50 still survives the grace-delayed late-row
    # filter (50 >= 49.5's predecessor) — yet sits far outside gap of
    # the closed session's start (50 < 100-5).
    stream.sessionize(
        "s",
        EVENT_SCHEMA,
        key_field="key",
        gap_ms=5_000,
        fold=_make_sum_fold(),
        watermark_delay_ms=2_000,
        grace_ms=60_000,
    )
    stream.emit(
        "s",
        {"key": "u", "timestamp": 100.0, "value": 1.0},
        {"key": "u", "timestamp": 104.0, "value": 2.0},
        {"key": "v", "timestamp": 111.5, "value": 9.0},  # closes u via timer
    )
    stream.run_until_idle()
    assert ("u", 100_000, 109_000, 2, 3.0) in _sessions(stream)

    # ancient event: 50s BEFORE the closed session started
    stream.emit("s", {"key": "u", "timestamp": 50.0, "value": 7.0})
    stream.run_until_idle()
    assert _lates(stream) == []  # NOT attributed to [100s, 109s)
    # it folded normally instead: a (closed-or-open) session at 50s
    # exists once everything flushes
    stream.emit("s", {"key": "w", "timestamp": 1000.0, "value": 0.0})
    stream.run_until_idle()
    assert ("u", 50_000, 55_000, 1, 7.0) in _sessions(stream)
    # a legit straggler within gap of the REPLACED-BY-NOTHING window
    # still works: nothing else changed
    assert [s for s in _sessions(stream) if s[0] == "u"] == [
        ("u", 50_000, 55_000, 1, 7.0),
        ("u", 100_000, 109_000, 2, 3.0),
    ]


def test_ancient_event_with_open_session_captured_unattributed(spark, stream):
    """An ancient event arriving while a NEWER session is open can
    neither merge into it (it predates the open session's start by
    more than gap) nor retroactively start its own session (the fold
    state is already past it) — it must be captured as an
    UNATTRIBUTED late row, never folded into the open session."""
    stream.sessionize(
        "s",
        EVENT_SCHEMA,
        key_field="key",
        gap_ms=5_000,
        fold=_make_sum_fold(),
        watermark_delay_ms=2_000,
        grace_ms=60_000,
    )
    stream.emit(
        "s",
        {"key": "u", "timestamp": 100.0, "value": 1.0},
        {"key": "u", "timestamp": 104.0, "value": 2.0},
        {"key": "v", "timestamp": 111.5, "value": 9.0},
    )
    stream.run_until_idle()  # closes u's [100,109) via timer
    stream.emit("s", {"key": "u", "timestamp": 110.0, "value": 4.0})
    stream.run_until_idle()  # u has an OPEN session at 110s now

    stream.emit("s", {"key": "u", "timestamp": 50.0, "value": 7.0})
    stream.run_until_idle()
    lates = _lates(stream)
    assert len(lates) == 1
    key, ts_ms, s_start, s_end, event = lates[0]
    assert (key, ts_ms) == ("u", 50_000)
    assert s_start is None and s_end is None  # unattributed
    assert event["value"] == 7.0

    # the open session was NOT corrupted: close it and check contents
    stream.emit("s", {"key": "w", "timestamp": 1000.0, "value": 0.0})
    stream.run_until_idle()
    assert ("u", 110_000, 115_000, 1, 4.0) in _sessions(stream)
    assert not any(  # and no phantom session at 50s
        s[0] == "u" and s[1] == 50_000 for s in _sessions(stream)
    )
