"""Behavioral specs carried over from the reference's test suite
(SURVEY §5): exact windowed-state values, retry->DLQ metadata,
idempotent-sink call counts, exactly-once across re-runs, DLQ replay.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from python_stream_processing_framework_spark.streaming import (
    SessionWindow,
    Stream,
    TumblingWindow,
)
from python_stream_processing_framework_spark.streaming.dlq import (
    IdempotentSink,
    replay_dead_letters,
)

EVENT_SCHEMA = StructType(
    [
        StructField("event_id", StringType()),
        StructField("key", StringType()),
        StructField("timestamp", DoubleType()),
        StructField("value", DoubleType()),
        StructField("_attempt", LongType()),
    ]
)

AGG_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("win_start_us", LongType()),
        StructField("win_end_us", LongType()),
        StructField("total", DoubleType()),
        StructField("n", LongType()),
    ]
)


@pytest.fixture()
def stream(spark, tmp_path):
    return Stream(spark, str(tmp_path / "broker"))


def test_tumbling_window_exact_values(spark, stream):
    """Mirror of the reference's windowing golden test
    (tests/test_stream_windowing.py:22-91): seeded timestamps produce
    exact per-(key, window) sums."""
    stream.emit(
        "test_stream",
        {"key": "user_1", "timestamp": 1.0, "value": 5.0},
        {"key": "user_1", "timestamp": 5.0, "value": 10.0},
        {"key": "user_1", "timestamp": 12.0, "value": 7.0},
        {"key": "user_2", "timestamp": 3.0, "value": 2.5},
    )
    stream.window(
        "test_stream",
        TumblingWindow(10_000),
        EVENT_SCHEMA,
        key_field="key",
        aggs={"total": F.sum("value"), "n": F.count(F.lit(1))},
    )
    stream.run_until_idle()

    out = {
        (r["key"], r["win_start_us"]): (r["total"], r["n"])
        for r in stream.read_topic("test_stream-agg", AGG_SCHEMA).collect()
    }
    assert out[("user_1", 0)] == (15.0, 2)
    assert out[("user_1", 10_000_000)] == (7.0, 1)
    assert out[("user_2", 0)] == (2.5, 1)


def test_session_window_merges(spark, stream):
    stream.emit(
        "s",
        {"key": "u", "timestamp": 0.0, "value": 1.0},
        {"key": "u", "timestamp": 4.0, "value": 1.0},  # within 5s gap: merge
        {"key": "u", "timestamp": 30.0, "value": 1.0},  # new session
    )
    stream.window(
        "s",
        SessionWindow(5_000),
        EVENT_SCHEMA,
        key_field="key",
        aggs={"total": F.sum("value"), "n": F.count(F.lit(1))},
    )
    stream.run_until_idle()
    rows = sorted(
        (r["win_start_us"], r["win_end_us"], r["n"])
        for r in stream.read_topic("s-agg", AGG_SCHEMA).collect()
    )
    # session 1: [0, 4+5)s merged 2 events; session 2: [30, 35)s.
    assert rows == [(0, 9_000_000, 2), (30_000_000, 35_000_000, 1)]


def test_state_partitions_knob_sizes_state_and_preserves_results(spark, tmp_path):
    """Opt-in state-width sizing (Stream(state_partitions=N)): the
    stateful query's state store runs at N partitions (the checkpoint's
    state/0/ layout proves it — Spark pins width at first start and AQE
    never coalesces streaming state), results are identical, and the
    session conf is restored after the start loop."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    stream = Stream(spark, str(tmp_path / "broker"), state_partitions=4)
    stream.emit(
        "t",
        {"key": "u", "timestamp": 1.0, "value": 5.0},
        {"key": "v", "timestamp": 2.0, "value": 7.0},
    )
    stream.window(
        "t",
        TumblingWindow(10_000),
        EVENT_SCHEMA,
        key_field="key",
        aggs={"total": F.sum("value"), "n": F.count(F.lit(1))},
    )
    stream.run_until_idle()
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
    out = {
        r["key"]: (r["total"], r["n"])
        for r in stream.read_topic("t-agg", AGG_SCHEMA).collect()
    }
    assert out == {"u": (5.0, 1), "v": (7.0, 1)}
    state_root = next((stream.checkpoints / "t-window-t").glob("state/0"))
    widths = [p.name for p in state_root.iterdir() if p.name.isdigit()]
    assert len(widths) == 4


def test_distributed_subscribe_parallel_exactly_once(spark, stream, tmp_path):
    """distribute=True runs handlers executor-side (dlq.py distribute
    mode): side effects land from MULTIPLE partitions in parallel,
    every message is handled exactly once per delivery, and the
    retry->DLQ flow still works with only failures shipped back to the
    driver."""
    import os
    import uuid

    effects = tmp_path / "effects"
    effects.mkdir()
    effects_dir = str(effects)

    @stream.subscribe(
        "dist_orders",
        EVENT_SCHEMA,
        max_retries=2,
        distribute=True,
        distribute_partitions=4,
    )
    def handle(event):
        # executor-side observable side effect: one uniquely-named
        # token per handler invocation, tagged with the partition id
        from pyspark import TaskContext

        if event["value"] < 0:
            raise ValueError("negative value")
        pid = TaskContext.get().partitionId()
        name = f"{event['event_id']}.p{pid}.{uuid.uuid4().hex}"
        with open(os.path.join(effects_dir, name), "w") as f:
            f.write("1")

    n = 40
    stream.emit(
        "dist_orders",
        *[
            {"event_id": f"e{i}", "key": "k", "timestamp": float(i), "value": float(i)}
            for i in range(n)
        ],
        {"event_id": "bad-d", "key": "b", "timestamp": 99.0, "value": -1.0},
    )
    stream.run_until_idle(rounds=4)

    tokens = sorted(p.name for p in effects.iterdir())
    by_event: dict[str, int] = {}
    pids = set()
    for t in tokens:
        ev, pid, _ = t.split(".", 2)
        by_event[ev] = by_event.get(ev, 0) + 1
        pids.add(pid)
    # exactly one handler invocation per good message...
    assert by_event == {f"e{i}": 1 for i in range(n)}
    # ...executed across several partitions in parallel
    assert len(pids) >= 2, pids
    # the failing message still walked retry -> DLQ with full metadata
    dlq = stream.read_topic(
        "dist_orders-dlq",
        StructType(
            EVENT_SCHEMA.fields
            + [
                StructField("_error", StringType()),
                StructField("_original_stream", StringType()),
                StructField("_original_msg_id", StringType()),
                StructField("_moved_timestamp", DoubleType()),
            ]
        ),
    ).collect()
    assert len(dlq) == 1
    row = dlq[0].asDict()
    assert row["event_id"] == "bad-d"
    assert "negative value" in row["_error"]
    assert row["_attempt"] == 2


def test_distributed_subscribe_rejects_ctx_handler(spark, stream):
    import pytest as _pytest

    with _pytest.raises(ValueError, match="driver-owned"):

        @stream.subscribe("t_ctx", EVENT_SCHEMA, distribute=True)
        def handle(msg_id, data, ctx):
            pass


def test_retry_then_dlq_with_error_metadata(spark, stream):
    """Reference DLQ flow (tests/test_enterprise_features.py:34-112):
    failing message retried max_retries times, then moved to
    `{topic}-dlq` with `_error` + provenance metadata; good messages
    processed exactly once."""
    seen: list[str] = []

    @stream.subscribe("orders", EVENT_SCHEMA, max_retries=2)
    def handle(event):
        if event["value"] < 0:
            raise ValueError("negative value")
        seen.append(event["event_id"])

    stream.emit(
        "orders",
        {"event_id": "good-1", "key": "a", "timestamp": 1.0, "value": 10.0},
        {"event_id": "bad-1", "key": "b", "timestamp": 2.0, "value": -1.0},
    )
    # each round drains newly re-emitted retry messages.
    stream.run_until_idle(rounds=4)

    assert seen == ["good-1"]  # exactly once despite 4 rounds
    dlq = stream.read_topic(
        "orders-dlq",
        StructType(
            EVENT_SCHEMA.fields
            + [
                StructField("_error", StringType()),
                StructField("_original_stream", StringType()),
                StructField("_original_msg_id", StringType()),
                StructField("_moved_timestamp", DoubleType()),
            ]
        ),
    ).collect()
    assert len(dlq) == 1
    row = dlq[0].asDict()
    assert row["event_id"] == "bad-1"
    assert "negative value" in row["_error"]
    assert row["_original_stream"] == "orders"
    assert row["_original_msg_id"] == "bad-1"
    assert row["_attempt"] == 2  # retried to the limit before moving


def test_exactly_once_across_restart(spark, tmp_path):
    """Reference crash-recovery invariant
    (tests/test_crash_recovery.py:120-129): processing resumes from the
    checkpoint; nothing is double-counted. A new Stream instance over
    the same broker+checkpoints simulates the restart."""
    broker = str(tmp_path / "broker")
    counts: dict[str, int] = {}

    def make(stream):
        @stream.subscribe("pay", EVENT_SCHEMA)
        def handle(event):
            counts[event["event_id"]] = counts.get(event["event_id"], 0) + 1

    s1 = Stream(spark, broker)
    make(s1)
    s1.emit("pay", *({"event_id": f"e{i}", "key": "k", "timestamp": float(i), "value": 1.0} for i in range(5)))
    s1.run_until_idle()

    s2 = Stream(spark, broker)  # "restart": same checkpoints dir
    make(s2)
    s2.emit("pay", *({"event_id": f"e{i}", "key": "k", "timestamp": float(i), "value": 1.0} for i in range(5, 8)))
    s2.run_until_idle()

    assert counts == {f"e{i}": 1 for i in range(8)}


def test_idempotent_sink_counts(tmp_path):
    """Reference idempotent sink (tests/connectors/test_sink.py:20-40):
    second write of the same event is suppressed."""
    effects: list[str] = []

    class Collect(IdempotentSink):
        def on_write(self, event, token):
            effects.append(token)

    sink = Collect("test", str(tmp_path / "tokens"))
    ev = {"event_id": "e-1"}
    assert sink.write(ev) is True
    assert sink.write(ev) is False
    assert effects == ["test:e-1"]

    # durable across sink restarts
    sink2 = Collect("test", str(tmp_path / "tokens"))
    assert sink2.write(ev) is False
    assert effects == ["test:e-1"]


def test_dlq_replay(spark, stream):
    """Reference replay tool (pspf/cli.py:139-228): strip metadata,
    re-emit to the source topic, purge the DLQ."""
    accept = {"on": False}
    seen: list[str] = []

    @stream.subscribe("jobs", EVENT_SCHEMA, max_retries=0)
    def handle(event):
        if not accept["on"]:
            raise RuntimeError("downstream outage")
        seen.append(event["event_id"])

    stream.emit("jobs", {"event_id": "j1", "key": "k", "timestamp": 1.0, "value": 1.0})
    stream.run_until_idle(rounds=2)
    assert seen == []

    accept["on"] = True
    n = replay_dead_letters(stream, "jobs", schema=EVENT_SCHEMA)
    assert n == 1
    stream.run_until_idle(rounds=2)
    assert seen == ["j1"]
    # purged: replaying again is a no-op
    assert replay_dead_letters(stream, "jobs", schema=EVENT_SCHEMA) == 0


def test_dlq_replay_distributed(spark, stream):
    """Scale path: the replay must NOT materialize messages on the
    driver — each partition writes its own atomically-renamed
    JSON-lines file into the topic dir and only counts return. Same
    observable semantics as the collect path: metadata stripped,
    events consumable, DLQ purged."""
    from pyspark.sql.types import StringType, StructField, StructType

    dlq_schema = StructType(
        list(EVENT_SCHEMA.fields)
        + [
            StructField("_error", StringType()),
            StructField("_original_stream", StringType()),
            StructField("_original_msg_id", StringType()),
        ]
    )
    dead = [
        {
            "event_id": f"d{i}",
            "key": "k",
            "timestamp": float(i),
            "value": float(i),
            "_error": "boom",
            "_original_stream": "wide",
            "_original_msg_id": f"d{i}",
            "_attempt": 3,
        }
        for i in range(50)
    ]
    stream.emit("wide-dlq", *dead)
    n = replay_dead_letters(stream, "wide", schema=dlq_schema, distributed=True)
    assert n == 50
    # DLQ purged; replayed events in the topic, metadata stripped
    assert replay_dead_letters(stream, "wide", schema=dlq_schema, distributed=True) == 0
    replayed = stream.read_topic("wide", dlq_schema).collect()
    assert len(replayed) == 50
    assert {r["event_id"] for r in replayed} == {f"d{i}" for i in range(50)}
    assert all(
        r["_error"] is None and r["_original_stream"] is None for r in replayed
    )


def test_replay_distributed_partition_files(spark, tmp_path):
    """One atomically-renamed file per non-empty partition; only
    per-partition counts travel to the driver (the mapPartitions
    iterator yields ints, never rows)."""
    from pathlib import Path

    from pyspark.sql.types import StringType, StructField, StructType

    from python_stream_processing_framework_spark.streaming.dlq import (
        _replay_distributed,
    )

    schema = StructType(
        [
            StructField("event_id", StringType()),
            StructField("payload", StringType()),
            StructField("_error", StringType()),
        ]
    )
    rows = [(f"e{i}", f"p{i}", "err") for i in range(40)]
    df = spark.createDataFrame(rows, schema).repartition(4)
    target = tmp_path / "topic"
    target.mkdir()
    assert _replay_distributed(df, str(target)) == 40
    files = sorted(Path(target).glob("*.json"))
    assert len(files) == 4  # one per partition
    assert not list(Path(target).glob(".*.tmp"))  # all renamed into place
    import json as _json

    out = [_json.loads(line) for f in files for line in f.read_text().splitlines()]
    assert {o["event_id"] for o in out} == {f"e{i}" for i in range(40)}
    assert all("_error" not in o for o in out)


def test_write_batch_jsonl_idempotent_per_batch_id(spark, tmp_path):
    """foreachBatch is at-least-once: a crash between sink write and
    checkpoint commit re-runs the SAME batch_id. The facade sink must
    overwrite its own files on that retry, not append duplicates —
    for plain rows and for rows that already carry one JSON document
    in a value column (the Valkey ingest bridge's ``to_line``)."""
    import json as _json

    from python_stream_processing_framework_spark.streaming.stream import (
        _write_batch_jsonl,
    )

    def as_values(rows):
        return [(_json.dumps({"k": k, "v": v}),) for k, v in rows]

    first = [("a", 1), ("b", 2), ("c", 3), ("d", 4)]
    cases = {
        "rows": (lambda rows: spark.createDataFrame(rows, ["k", "v"]), None),
        "value": (
            lambda rows: spark.createDataFrame(as_values(rows), ["value"]),
            lambda row: row["value"],
        ),
    }
    for name, (make, to_line) in cases.items():
        df = make(first).repartition(2)
        d = tmp_path / name
        d.mkdir()

        def rows():
            return sorted(
                (r["k"], r["v"])
                for r in spark.read.json(str(d)).collect()
            )

        _write_batch_jsonl(df, str(d), 7, to_line=to_line)
        names_first = sorted(p.name for p in d.glob("*.json"))
        assert rows() == first
        # simulated foreachBatch retry of batch 7: same files, same rows
        _write_batch_jsonl(df, str(d), 7, to_line=to_line)
        assert sorted(p.name for p in d.glob("*.json")) == names_first
        assert rows() == first
        # a NEW batch id appends
        _write_batch_jsonl(make([("e", 5)]), str(d), 8, to_line=to_line)
        assert rows() == first + [("e", 5)]
        assert not list(d.glob(".*.tmp"))


def test_pipeline_dsl_map_filter_sink(spark, stream):
    """Reference StreamBuilder chain (pspf/processing/dsl.py:17-49):
    map then filter; a filtered-out element short-circuits; survivors
    land on the sink topic."""
    stream.pipeline("raw", EVENT_SCHEMA).map(
        lambda e: {**e, "value": e["value"] * 2}
    ).filter(lambda e: e["value"] >= 10).sink("clean")

    stream.emit(
        "raw",
        {"event_id": "a", "key": "k", "timestamp": 1.0, "value": 6.0},  # 12 keep
        {"event_id": "b", "key": "k", "timestamp": 2.0, "value": 3.0},  # 6 drop
    )
    stream.run_until_idle()
    out = {r["event_id"]: r["value"] for r in stream.read_topic("clean", EVENT_SCHEMA).collect()}
    assert out == {"a": 12.0}

    # map returning None drops the element before the filter runs
    stream.pipeline("raw2", EVENT_SCHEMA).map(
        lambda e: None if e["value"] < 0 else e
    ).sink("clean2")
    stream.emit("raw2", {"event_id": "c", "key": "k", "timestamp": 1.0, "value": -1.0})
    stream.run_until_idle()
    assert stream.read_topic("clean2", EVENT_SCHEMA).count() == 0


def test_pipeline_ops_run_on_executors_not_driver(spark, stream):
    """The pipeline DSL's pure transforms must execute executor-side
    (mapInPandas), not in a driver loop: a closure that mutates a
    driver-side list would only touch the list if it ran in the driver
    process. The transform result must still be correct."""
    driver_sentinel: list[str] = []

    def tag(e):
        driver_sentinel.append(e["event_id"])  # mutates a COPY on workers
        return {**e, "value": e["value"] + 100.0}

    stream.pipeline("src_exec", EVENT_SCHEMA).map(tag).sink("out_exec")
    stream.emit(
        "src_exec",
        {"event_id": "e1", "key": "k", "timestamp": 1.0, "value": 1.0},
        {"event_id": "e2", "key": "k", "timestamp": 2.0, "value": 2.0},
    )
    stream.run_until_idle()
    out = {r["event_id"]: r["value"] for r in stream.read_topic("out_exec", EVENT_SCHEMA).collect()}
    assert out == {"e1": 101.0, "e2": 102.0}
    # the op ran in Python workers: the driver's list never saw a mutation
    assert driver_sentinel == []


def test_pipeline_shape_changing_map_declares_output_schema(spark, stream):
    """A map may change the record shape — the reference's StreamBuilder
    emitted arbitrary dicts (pspf/processing/dsl.py:31-49). The new
    shape is declared via sink(output_schema=...); missing declared
    fields null-fill, renamed fields carry through."""
    out_schema = StructType(
        [
            StructField("event_id", StringType()),
            StructField("doubled", DoubleType()),
            StructField("tag", StringType()),
        ]
    )
    stream.pipeline("shape_src", EVENT_SCHEMA).map(
        lambda e: {"event_id": e["event_id"], "doubled": e["value"] * 2}
    ).sink("shape_out", output_schema=out_schema)
    stream.emit(
        "shape_src",
        {"event_id": "a", "key": "k", "timestamp": 1.0, "value": 6.0},
    )
    stream.run_until_idle()
    rows = stream.read_topic("shape_out", out_schema).collect()
    assert [(r["event_id"], r["doubled"], r["tag"]) for r in rows] == [("a", 12.0, None)]


def test_pipeline_undeclared_field_fails_loudly(spark, stream):
    """A survivor carrying a field outside the declared sink schema must
    fail the query, not silently drop the field."""
    stream.pipeline("bad_src", EVENT_SCHEMA).map(
        lambda e: {**e, "sneaky_extra": 1}
    ).sink("bad_out")
    stream.emit(
        "bad_src",
        {"event_id": "a", "key": "k", "timestamp": 1.0, "value": 1.0},
    )
    with pytest.raises(Exception, match="sneaky_extra"):
        stream.run_until_idle()


def test_pipeline_handlers_see_none_not_nan(spark, stream):
    """Handlers receive JSON-dict-like values as in the reference: a
    null field arrives as None (not pandas NaN) and numeric scalars are
    Python scalars, so `is None` checks behave."""
    seen_types = StructType(
        [
            StructField("event_id", StringType()),
            StructField("value", DoubleType()),
            StructField("value_was_none", StringType()),
        ]
    )
    stream.pipeline("nan_src", EVENT_SCHEMA).map(
        lambda e: {
            "event_id": e["event_id"],
            "value": 0.0 if e["value"] is None else e["value"],
            "value_was_none": str(e["value"] is None and e["_attempt"] is None),
        }
    ).sink("nan_out", output_schema=seen_types)
    stream.emit("nan_src", {"event_id": "a", "key": "k", "timestamp": 1.0})
    stream.run_until_idle()
    (row,) = stream.read_topic("nan_out", seen_types).collect()
    assert (row["value"], row["value_was_none"]) == (0.0, "True")


def test_window_sink_is_distributed_not_collected(spark, stream):
    """The window sink must write executor-side (batch.write.json), not
    via a driver collect() loop: aggregate output with a
    high-cardinality key at 100 TB is not driver-sized."""
    import inspect

    src = inspect.getsource(Stream._start_window)
    assert ".collect(" not in src
    assert ".write" in src


def test_windowed_agg_with_watermark_append_mode(spark, stream):
    """Facade window with a real watermark: append mode emits only
    finalized windows; late-beyond-watermark events don't reopen them."""
    stream.window(
        "wm",
        TumblingWindow(10_000),
        EVENT_SCHEMA,
        key_field="key",
        aggs={"total": F.sum("value"), "n": F.count(F.lit(1))},
        watermark_delay_ms=5_000,
    )
    # batch 1: window [0,10) plus an event far ahead to advance the
    # watermark to 100-5=95s, finalizing [0,10)
    stream.emit(
        "wm",
        {"key": "u", "timestamp": 1.0, "value": 5.0},
        {"key": "u", "timestamp": 100.0, "value": 1.0},
    )
    stream.run_until_idle()
    out1 = {
        (r["key"], r["win_start_us"]): (r["total"], r["n"])
        for r in stream.read_topic("wm-agg", AGG_SCHEMA).collect()
    }
    assert out1 == {("u", 0): (5.0, 1)}  # only the finalized window

    # batch 2: a very late event for [0,10) must NOT reopen it
    stream.emit("wm", {"key": "u", "timestamp": 2.0, "value": 99.0})
    stream.emit("wm", {"key": "u", "timestamp": 200.0, "value": 1.0})
    stream.run_until_idle()
    out2 = {
        (r["key"], r["win_start_us"]): (r["total"], r["n"])
        for r in stream.read_topic("wm-agg", AGG_SCHEMA).collect()
    }
    assert out2[("u", 0)] == (5.0, 1)  # unchanged
    assert out2[("u", 100_000_000)] == (1.0, 1)  # [100,110) finalized by 200s


def test_window_append_retry_rewrites_not_duplicates(spark, stream):
    """A crash between the window sink write and the checkpoint commit
    re-runs that batch_id. Append mode must rewrite the batch's own
    files, so the finalized window is still delivered exactly once."""
    stream.window(
        "wm",
        TumblingWindow(10_000),
        EVENT_SCHEMA,
        key_field="key",
        aggs={"total": F.sum("value"), "n": F.count(F.lit(1))},
        watermark_delay_ms=5_000,
    )
    stream.emit(
        "wm",
        {"key": "u", "timestamp": 1.0, "value": 5.0},
        {"key": "u", "timestamp": 100.0, "value": 1.0},
    )
    stream.run_until_idle()
    # forget the last commit: the next run re-executes that batch, the
    # one that finalized [0,10)
    commits = stream.checkpoints / "wm-window-wm" / "commits"
    last = max(int(p.name) for p in commits.iterdir() if p.name.isdigit())
    (commits / str(last)).unlink()
    (commits / f".{last}.crc").unlink(missing_ok=True)
    stream.run_until_idle()
    rows = [
        (r["key"], r["win_start_us"], r["total"], r["n"])
        for r in stream.read_topic("wm-agg", AGG_SCHEMA).collect()
    ]
    assert rows == [("u", 0, 5.0, 1)]


@pytest.mark.parametrize("facade", ["sessionize", "fold"])
def test_each_event_reaches_the_fold_once(spark, stream, tmp_path, facade):
    """The stateful facades run their fold once per event: the sink
    must not execute the stateful micro-batch a second time (e.g. an
    emptiness check before the write)."""
    log = str(tmp_path / "fold-calls.log")

    def make_fold(path):
        # local function: cloudpickle ships it by value to executors
        def fold(event, state):
            with open(path, "a") as fh:
                fh.write("call\n")
            return (state or 0.0) + float(event["value"])

        return fold

    if facade == "sessionize":
        stream.sessionize(
            "f", EVENT_SCHEMA, key_field="key", gap_ms=5_000, fold=make_fold(log)
        )
    else:
        stream.fold(
            "f", EVENT_SCHEMA, make_fold(log), key_field="key", ts_field="timestamp"
        )
    n = 0
    for file_no in range(3):
        events = [
            {"key": f"k{i % 12}", "timestamp": 1000.0 + 100 * file_no + i, "value": 1.0}
            for i in range(40)
        ]
        stream.emit("f", *events)
        n += len(events)
    stream.run_until_idle()
    with open(log) as fh:
        assert len(fh.readlines()) == n


def test_window_late_topic_routes_instead_of_silent_drop(spark, stream):
    """Stream.window(late_topic=...): events behind the checkpointed
    high-watermark land in the -late topic (the reference's routing,
    pspf/stream.py:402-413) while the agg query still drops them from
    the aggregate; on-time events route nowhere; re-running without
    new data duplicates nothing."""
    stream.window(
        "t",
        TumblingWindow(10_000),
        EVENT_SCHEMA,
        key_field="key",
        aggs={"total": F.sum("value")},
        watermark_delay_ms=2_000,
        late_topic="t-late",
    )
    stream.emit(
        "t",
        {"key": "u", "timestamp": 5.0, "value": 1.0},
        {"key": "u", "timestamp": 100.0, "value": 2.0},  # wm -> 98s
    )
    stream.run_until_idle()
    late_schema = StructType(
        [
            StructField("key", StringType()),
            StructField("timestamp", DoubleType()),
            StructField("value", DoubleType()),
        ]
    )
    assert stream.read_topic("t-late", late_schema).count() == 0  # first batch: wm was 0

    # window [0,10)s ended long before wm=98s: late, routed
    stream.emit("t", {"key": "u", "timestamp": 7.0, "value": 9.0})
    # window [100,110)s is still open at wm=98s: on time, not routed
    stream.emit("t", {"key": "u", "timestamp": 105.0, "value": 4.0})
    stream.run_until_idle()
    lates = stream.read_topic("t-late", late_schema).collect()
    assert [(r["key"], r["timestamp"], r["value"]) for r in lates] == [
        ("u", 7.0, 9.0)
    ]
    stream.run_until_idle()  # no new data: nothing may duplicate
    assert stream.read_topic("t-late", late_schema).count() == 1


def test_distributed_subscribe_poison_batch_bounded_collect(spark, stream):
    """A poison batch (100% of rows failing) must not degenerate to a
    full driver collect (the r5 blemish at dlq.py distribute mode).
    With collect_failure_cap=8 over 4 partitions, each partition
    returns at most 2 failures to the driver and routes its overflow
    ITSELF: spill files (executor-written, deterministic names) carry
    the bulk of the retry/DLQ volume, and the COMPLETE poison set
    still lands in the DLQ exactly once with full `_error` metadata."""
    n, cap = 40, 8

    @stream.subscribe(
        "poison",
        EVENT_SCHEMA,
        max_retries=1,
        group="pg",
        distribute=True,
        distribute_partitions=4,
        collect_failure_cap=cap,
    )
    def handle(event):
        raise ValueError("poison pill")

    stream.emit(
        "poison",
        *[
            {"event_id": f"p{i}", "key": "k", "timestamp": float(i), "value": 1.0}
            for i in range(n)
        ],
    )
    stream.run_until_idle(rounds=4)

    dlq_schema = StructType(
        EVENT_SCHEMA.fields
        + [
            StructField("_error", StringType()),
            StructField("_original_stream", StringType()),
            StructField("_original_msg_id", StringType()),
            StructField("_moved_timestamp", DoubleType()),
        ]
    )
    rows = stream.read_topic("poison-dlq", dlq_schema).collect()
    # complete: every poison message dead-lettered exactly once
    assert sorted(r["event_id"] for r in rows) == sorted(
        f"p{i}" for i in range(n)
    )
    for r in rows:
        assert "poison pill" in r["_error"]
        assert r["_original_stream"] == "poison"
        assert r["_original_msg_id"] == r["event_id"]
        assert r["_attempt"] == 1

    # bounded driver traffic: the retry leg (batch 1, all 40 fail at
    # attempt 0) and the DLQ leg (batch 2, all 40 fail at attempt 1)
    # each shipped at most `cap` rows through the driver; the rest
    # travelled in executor-written spill files.
    retry_spills = list(stream.topic_dir("poison--retry--pg").glob("spill-*.json"))
    dlq_spills = list(stream.topic_dir("poison-dlq").glob("spill-*.json"))
    assert retry_spills and dlq_spills, "overflow must spill executor-side"
    spilled_retry = sum(len(f.read_text().splitlines()) for f in retry_spills)
    spilled_dlq = sum(len(f.read_text().splitlines()) for f in dlq_spills)
    assert n - spilled_retry <= cap
    assert n - spilled_dlq <= cap


def test_two_pipelines_one_session_confs_untouched(spark, tmp_path):
    """Two facade pipelines CONCURRENT on one session (route fan-out +
    windowed agg run in the same start round) interleaved with the
    plan-local-width batch operator (connected_components): results
    stay correct and NO session conf is mutated afterwards — the
    conf-mutation bug class ADVICE r4 found by inspection, now pinned
    by a test."""
    from python_stream_processing_framework_spark.operators.graph import (
        connected_components,
    )
    from python_stream_processing_framework_spark.operators.routing import Router

    watched = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.shuffle.partitions",
            "spark.sql.adaptive.enabled",
            "spark.sql.session.timeZone",
        )
    }
    stream = Stream(spark, str(tmp_path / "broker2"))

    router = (
        Router()
        .add_route(F.col("value") >= 100, "big_ev")
        .default_route("small_ev")
    )
    stream.route("mixed", EVENT_SCHEMA, router)
    stream.window(
        "beats",
        TumblingWindow(10_000),
        EVENT_SCHEMA,
        key_field="key",
        aggs={"total": F.sum("value"), "n": F.count(F.lit(1))},
    )
    stream.emit(
        "mixed",
        {"event_id": "m1", "key": "a", "timestamp": 1.0, "value": 150.0},
        {"event_id": "m2", "key": "a", "timestamp": 2.0, "value": 5.0},
    )
    stream.emit(
        "beats",
        {"event_id": "b1", "key": "u", "timestamp": 1.0, "value": 5.0},
        {"event_id": "b2", "key": "u", "timestamp": 2.0, "value": 7.0},
    )
    # round 1: the route query and the window query start together and
    # run concurrently on this one session
    stream.run_until_idle()

    # interleave the iterative batch operator with live facade state:
    # its loop width must stay plan-local, never a session conf
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "a bigint, b bigint"
    )
    comp = {
        (r["node"], r["component"])
        for r in connected_components(edges, "a", "b").collect()
    }
    assert comp == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}

    # round 2: drain anything re-emitted; both pipelines idle cleanly
    stream.emit(
        "mixed",
        {"event_id": "m3", "key": "c", "timestamp": 3.0, "value": 999.0},
    )
    stream.run_until_idle()

    big = stream.read_topic("big_ev", EVENT_SCHEMA).collect()
    small = stream.read_topic("small_ev", EVENT_SCHEMA).collect()
    assert sorted(r["event_id"] for r in big) == ["m1", "m3"]
    assert [r["event_id"] for r in small] == ["m2"]
    aggs = stream.read_topic("beats-agg", AGG_SCHEMA).collect()
    assert {r["key"]: (r["total"], r["n"]) for r in aggs} == {"u": (12.0, 2)}

    after = {k: spark.conf.get(k) for k in watched}
    assert after == watched


def test_spill_rerun_overwrites_not_duplicates(spark, tmp_path):
    """The spill contract under foreachBatch re-runs: processing the
    SAME batch twice with the same job_token (what the facade passes —
    group + batch_id) rewrites the same per-partition spill files via
    rename instead of appending new ones, so the DLQ leg holds each
    overflowed message exactly once."""
    import json

    from python_stream_processing_framework_spark.streaming.dlq import (
        handle_batch_with_retries,
    )

    retry_dir, dlq_dir = tmp_path / "retry", tmp_path / "dlq"
    n, cap = 20, 4
    batch = spark.createDataFrame(
        [(f"e{i}", 1) for i in range(n)], "event_id string, _attempt long"
    )
    emitted: list[tuple[str, int]] = []

    def emit(topic, *events):
        emitted.append((topic, len(events)))
        return [e.get("event_id") for e in events]

    def handler(ev):
        raise ValueError("always fails")

    for _ in range(2):  # the same micro-batch, re-processed
        handle_batch_with_retries(
            batch,
            handler=handler,
            topic="t",
            max_retries=1,  # _attempt=1 -> everything goes to the DLQ leg
            emit=emit,
            distribute=True,
            distribute_partitions=4,
            collect_failure_cap=cap,
            spill_dirs=(str(retry_dir), str(dlq_dir)),
            job_token="g-b7",
        )

    files = sorted(dlq_dir.glob("spill-*.json"))
    spilled = [
        json.loads(line)["event_id"]
        for f in files
        for line in f.read_text().splitlines()
    ]
    # re-run overwrote, never appended: every spilled id unique
    assert len(spilled) == len(set(spilled)), sorted(spilled)
    # per run: driver leg got at most cap rows, spill carried the rest
    per_run_driver = [m for t, m in emitted if t == "t-dlq"]
    assert len(per_run_driver) == 2 and all(m <= cap for m in per_run_driver)
    assert len(spilled) + per_run_driver[0] == n
    # nothing was retry-eligible (attempt already at max), so the
    # retry leg must have spilled nothing
    assert not retry_dir.exists() or not list(retry_dir.glob("*"))


def test_sliding_late_per_window_reference_volume(spark, tmp_path):
    """late_per_window=True restores the reference's per-window -late
    volume for sliding windows (one raw-event copy per CLOSED
    containing window, pspf/stream.py:401-413): an event late only
    for its older slide emits ONE copy while still feeding the live
    window; an event late for both slides emits TWO."""
    from python_stream_processing_framework_spark.streaming import SlidingWindow

    stream = Stream(spark, str(tmp_path / "broker-lpw"))
    stream.window(
        "sl",
        SlidingWindow(10_000, 5_000),
        EVENT_SCHEMA,
        key_field="key",
        aggs={"total": F.sum("value")},
        watermark_delay_ms=2_000,
        late_topic="sl-late",
        late_per_window=True,
    )
    stream.emit("sl", {"key": "u", "timestamp": 100.0, "value": 1.0})
    stream.run_until_idle()  # wm -> 98s

    # t=91s: windows [85,95) closed (< wm) and [90,100) live -> 1 copy
    stream.emit("sl", {"key": "u", "timestamp": 91.0, "value": 2.0})
    # t=7s: windows [0,10) and [5,15) both closed -> 2 copies
    stream.emit("sl", {"key": "u", "timestamp": 7.0, "value": 3.0})
    # t=96s: windows [90,100) and [95,105) both live -> 0 copies
    stream.emit("sl", {"key": "u", "timestamp": 96.0, "value": 4.0})
    stream.run_until_idle()

    late_schema = StructType(
        [
            StructField("key", StringType()),
            StructField("timestamp", DoubleType()),
            StructField("value", DoubleType()),
        ]
    )
    lates = sorted(
        (r["timestamp"], r["value"])
        for r in stream.read_topic("sl-late", late_schema).collect()
    )
    assert lates == [(7.0, 3.0), (7.0, 3.0), (91.0, 2.0)]
