"""Streaming sessionization with emit-on-close — SURVEY §7 hard part #1
in its full streaming form.

The reference's session handling (pspf/stream.py:415-451) keeps one
active session per key and, when an event arrives past the gap,
SILENTLY DROPS the old session and starts a new one — closed sessions
are never emitted. `session_fold` (state.py) already fixes that for
batch; this module is the true-streaming version: sessions close and
EMIT as soon as the event-time watermark passes `last_event + gap`,
with state managed by Spark's state store (exactly-once with the query
checkpoint, survives restarts).

One implementation, `sessionize_stream`, on `applyInPandasWithState` +
`GroupStateTimeout.EventTimeTimeout`: a per-key event-time timer at
`last + gap` fires when the watermark passes it and flushes the open
session. It needs Arrow only, on any Spark 3.4+/4.x. Both modes run
the same gap-merge + fold core, `_fold_batch`.

Plain mode (`grace_ms=None`) emits the 5-column session contract.

Grace mode (`grace_ms`, SURVEY hard part #3, `_sessionize_grace`) adds
attributed late-data capture. The reference routes events behind the
watermark to a `{topic}-late` DLQ (pspf/stream.py:402-413), but before
session attribution exists. Here a closed session leaves a TOMBSTONE
(its boundaries) in state for a grace window after close; a straggler
arriving inside that window is emitted as a `kind='late'` row carrying
the session it belonged to, instead of being silently dropped by
Spark's stateful late-row filter. Mechanically: the Spark watermark is
delayed by an extra `grace_ms` (so stragglers survive the built-in
filter), sessions still close at the UNDELAYED business watermark by
setting the close boundary `grace_ms` early (`last + gap - grace` in
delayed-watermark coordinates = `last + gap` in business time), and a
second boundary at `last + gap` garbage-collects the tombstone exactly
when the delayed watermark guarantees no matching straggler can still
arrive. The one timeout slot per key is set to the earliest pending
boundary and re-armed on fire. The output schema gains a `kind`
discriminator + `ts_ms` + `payload_json`. A straggler matching no
tombstone that arrives behind an OPEN session (more than gap before
its start) is captured with NULL session boundaries — see
`_split_orphans` for why folding it would corrupt the open session.

Scale shape (both modes): one shuffle on the key into the stateful
exchange; state per key is O(1) (the active session's fold
accumulator, not the event list); closed sessions flow straight to the
sink — nothing ever gathers on the driver. Late events older than the
watermark are dropped by Spark's stateful late-row filter BEFORE
reaching the fold (note: the filter also catches an event at exactly
the initial watermark, e.g. epoch 0 with a 0 ms delay; see
docs/streaming.md § Sessions) — pair with the facade's late-split
(`operators/windows.split_late`) upstream for the reference's `-late`
DLQ capture semantics instead of a silent drop.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import LongType, StringType, StructField, StructType

FoldFn = Callable[[dict, Any], Any]

_STATE_SCHEMA = "start_ms long, last_ms long, n long, state_json string"

def _out_schema(df: DataFrame, key_col: str) -> StructType:
    return StructType(
        [
            df.schema[key_col],
            StructField("session_start_ms", LongType()),
            StructField("session_end_ms", LongType()),
            StructField("n_events", LongType()),
            StructField("state_json", StringType()),
        ]
    )


#: grace-mode state: the open session (o_*) plus the most recently
#: closed session's tombstone (c_*) held for `grace_ms` after close so
#: stragglers can be attributed. One tombstone slot per key: a newer
#: close replaces an older tombstone (whose grace window is mostly
#: spent — stragglers overwhelmingly target the latest session).
_GRACE_STATE_SCHEMA = (
    "o_start long, o_last long, o_n long, o_state string, "
    "c_start long, c_last long, c_n long"
)


def _out_schema_grace(df: DataFrame, key_col: str) -> StructType:
    return StructType(
        [
            df.schema[key_col],
            StructField("kind", StringType()),  # 'session' | 'late'
            StructField("session_start_ms", LongType()),
            StructField("session_end_ms", LongType()),
            StructField("n_events", LongType()),
            StructField("ts_ms", LongType()),  # late rows: the event's ts
            StructField("payload_json", StringType()),
        ]
    )


def _jsonable(v: Any) -> Any:
    """JSON-safe scalar: numpy numerics to python, everything else
    non-serializable (pandas Timestamps) to str."""
    if v is None or isinstance(v, (str, bool, int, float)):
        return v
    try:
        import numpy as np

        if isinstance(v, np.integer):
            return int(v)
        if isinstance(v, np.floating):
            return float(v)
        if isinstance(v, np.bool_):
            return bool(v)
    except ImportError:  # pragma: no cover
        pass
    return str(v)


def _late_payload(ev: dict) -> str:
    """The straggler event as JSON (reference -late DLQ carries the
    event itself, pspf/stream.py:402-413); internal columns dropped —
    the event's ts travels in the typed ts_ms output column."""
    return json.dumps(
        {k: _jsonable(v) for k, v in ev.items() if not k.startswith("_")}
    )


def _with_ts_ms(df: DataFrame, ts_col: str, watermark_delay: str | None) -> DataFrame:
    out = df.withColumn("_ts_ms", (F.unix_micros(F.col(ts_col)) / 1000).cast("long"))
    if watermark_delay is not None:
        out = out.withWatermark(ts_col, watermark_delay)
    return out


def _fold_batch(
    events: pd.DataFrame,
    ts_order: str,
    fold: FoldFn,
    init: Any,
    start: int | None,
    last: int | None,
    n: int | None,
    st: Any,
    gap_ms: int,
) -> tuple[list[tuple], int, int, int, Any]:
    """Run the gap-merge + fold over one batch's time-ordered events.
    Returns (closed sessions, open-session start/last/n/state)."""
    closed: list[tuple] = []
    for ev in events.sort_values(ts_order).to_dict("records"):
        t = int(ev[ts_order])
        if last is not None and t - last <= gap_ms:
            last = max(last, t)
            n += 1
            st = fold(ev, st)
        else:
            if last is not None:
                closed.append((start, last, n, st))
            start, last, n, st = t, t, 1, fold(ev, init)
    return closed, start, last, n, st


def sessionize_stream(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    gap_ms: int,
    fold: FoldFn,
    init: Any = None,
    *,
    watermark_delay: str | None = None,
    grace_ms: int | None = None,
) -> DataFrame:
    """Emit-on-close session fold over a streaming DataFrame.

    Events within `gap_ms` of the session's last event merge into it
    (extending its end); a bigger gap closes the session — closed
    sessions are EMITTED (one row: key, session_start_ms,
    session_end_ms = last + gap (matching `F.session_window`),
    n_events, state_json), unlike the reference's silent drop
    (pspf/stream.py:436-446). Sessions left open when the stream goes
    quiet close via an event-time timer once the watermark passes
    `last + gap`.

    `fold(event_dict, state) -> state` is the reference's aggregation
    handler shape (pspf/stream.py:325-347); `init` seeds each session.
    `watermark_delay` (e.g. "5 seconds") is applied to `ts_col` here if
    given; otherwise the caller must have set a watermark upstream
    (EventTimeTimeout requires one).

    `grace_ms`: attributed late-data capture (module docstring). The
    output schema changes to (key, kind, session_start_ms,
    session_end_ms, n_events, ts_ms, payload_json): `kind='session'`
    rows are closed sessions (payload_json = folded state, ts_ms
    null); `kind='late'` rows are stragglers that arrived within
    `grace_ms` (business time) after their session closed, attributed
    to that session's boundaries with the event itself in
    payload_json. Requires `watermark_delay` (the grace shift is
    applied on top of it). Stragglers later than the grace window are
    dropped by Spark's late-row filter, and late rows matching no
    tombstone fold normally (merge or start a session — they are
    inside Spark's allowed lateness, so dropping them silently would
    recreate the reference bug this module exists to fix).
    """
    grace_ms = grace_ms or None  # 0 = no grace window = plain mode
    if grace_ms is not None:
        if watermark_delay is None:
            raise ValueError("grace_ms requires watermark_delay")
        return _sessionize_grace(
            df, key_col, ts_col, gap_ms, fold, init,
            watermark_delay=watermark_delay, grace_ms=grace_ms,
        )
    out = _out_schema(df, key_col)
    src = _with_ts_ms(df, ts_col, watermark_delay)

    def run(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        def emit(start: int, last: int, n: int, st: Any) -> pd.DataFrame:
            return pd.DataFrame(
                {
                    key_col: [key[0]],
                    "session_start_ms": [start],
                    "session_end_ms": [last + gap_ms],
                    "n_events": [n],
                    "state_json": [json.dumps(st)],
                }
            )

        if state.hasTimedOut:
            # No input rows for this key: the watermark passed
            # last + gap, flush the open session.
            start, last, n, st_json = state.get
            state.remove()
            yield emit(start, last, n, json.loads(st_json))
            return

        if state.exists:
            start, last, n, st_json = state.get
            st = json.loads(st_json)
        else:
            start = last = n = None
            st = None

        # One concat+sort across Arrow chunks: per-chunk sorting would
        # break time order for order-dependent folds (see keyed_fold_stream).
        chunks = list(pdfs)
        closed: list[tuple] = []
        if chunks:
            events = pd.concat(chunks, ignore_index=True)
            closed, start, last, n, st = _fold_batch(
                events, "_ts_ms", fold, init, start, last, n, st, gap_ms
            )
        if last is None:  # defensively: no events and no prior state
            return
        state.update((start, last, n, json.dumps(st)))
        # Timer must sit strictly past the current watermark: a session
        # fed entirely by old (pre-watermark) rows would otherwise set
        # an already-expired timestamp, which Spark rejects. Clamping
        # forward just closes it at the next trigger.
        state.setTimeoutTimestamp(max(last + gap_ms, state.getCurrentWatermarkMs() + 1))
        for c in closed:
            yield emit(*c)

    return src.groupBy(key_col).applyInPandasWithState(
        run, out, _STATE_SCHEMA, "append", GroupStateTimeout.EventTimeTimeout
    )


def _delay_to_ms(spec: str) -> int:
    from python_stream_processing_framework_spark.operators.windows import (
        _duration_us,
    )

    return _duration_us(spec) // 1000


def _split_stragglers(
    events: pd.DataFrame, c_start: int | None, c_last: int | None, gap_ms: int
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """(stragglers-for-tombstone, rest). A row belongs to the closed
    session iff it WOULD HAVE merged into it had it arrived on time:
    within gap of either boundary — ts <= closed.last + gap AND
    ts >= closed.start - gap. The lower bound is load-bearing: an
    ancient event (or a straggler of an OLDER closed session after a
    tombstone replacement) must not be attributed to this session's
    boundaries; it falls through to the normal fold instead."""
    if c_last is None or events.empty:
        return events.iloc[0:0], events
    mask = (events["_ts_ms"] <= c_last + gap_ms) & (
        events["_ts_ms"] >= c_start - gap_ms
    )
    return events[mask], events[~mask]


def _split_orphans(
    events: pd.DataFrame, o_start: int | None, gap_ms: int
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """(orphans, foldable). When an OPEN session exists, a row more
    than gap BEFORE its start can neither merge into it nor start a
    coherent earlier session (the fold's state is already past it) —
    handing it to `_fold_batch` would MERGE it into the unrelated open
    session, because the fold's `t - last <= gap` test is trivially
    true for any past timestamp. Such rows are captured as
    UNATTRIBUTED late rows (null session boundaries) instead — the
    reference's plain -late routing, minus the attribution a matching
    tombstone would have provided. Without an open session the fold
    handles old rows correctly (they start their own session), so
    everything stays foldable."""
    if o_start is None or events.empty:
        return events.iloc[0:0], events
    mask = events["_ts_ms"] < o_start - gap_ms
    return events[mask], events[~mask]


def _sessionize_grace(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    gap_ms: int,
    fold: FoldFn,
    init: Any,
    *,
    watermark_delay: str,
    grace_ms: int,
) -> DataFrame:
    """Canonical-path grace mode (see sessionize_stream / module
    docstring). One timeout slot emulates the TWS form's two named
    timers: the timeout is always the EARLIEST pending boundary
    (open-session close at `last + gap - grace`, tombstone GC at
    `last + gap`, both in grace-delayed watermark coordinates); on
    fire, every boundary the watermark has passed is processed and
    the slot re-arms on the next pending one."""
    out = _out_schema_grace(df, key_col)
    delay_ms = _delay_to_ms(watermark_delay) + grace_ms
    src = _with_ts_ms(df, ts_col, f"{delay_ms} milliseconds")

    def run(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        def row(kind, start, last_or_end, n, ts_ms, payload):
            return (key[0], kind, start, last_or_end, n, ts_ms, payload)

        def session_row(start, last, n, st):
            return row("session", start, last + gap_ms, n, None, json.dumps(st))

        def late_row(ev, c_start, c_last):
            return row(
                "late", c_start, c_last + gap_ms, 1,
                int(ev["_ts_ms"]), _late_payload(ev),
            )

        def boundaries(o_last, c_last):
            b = []
            if o_last is not None:
                b.append(o_last + gap_ms - grace_ms)
            if c_last is not None:
                b.append(c_last + gap_ms)
            return b

        def flush(rows):
            if rows:
                pdf = pd.DataFrame(rows, columns=[f.name for f in out.fields])
                # None-or-int mixes must be nullable Int64, not object
                # (ts_ms is null on session rows; the session columns
                # are null on unattributed late rows)
                for c in ("session_start_ms", "session_end_ms", "n_events", "ts_ms"):
                    pdf[c] = pd.array(pdf[c], dtype="Int64")
                yield pdf

        wm = state.getCurrentWatermarkMs()
        if state.hasTimedOut:
            o_start, o_last, o_n, o_state, c_start, c_last, c_n = state.get
            rows = []
            # Strict >: Spark's late-row filter still ADMITS events with
            # ts == watermark, so a straggler with ts exactly c_last+gap
            # can arrive while wm == c_last+gap; GC only once wm passes it.
            if c_last is not None and wm > c_last + gap_ms:
                c_start = c_last = c_n = None  # no straggler can arrive now
            if o_last is not None and wm >= o_last + gap_ms - grace_ms:
                # business watermark (wm + grace) passed last + gap: close
                rows.append(session_row(o_start, o_last, o_n, json.loads(o_state)))
                c_start, c_last, c_n = o_start, o_last, o_n
                o_start = o_last = o_n = o_state = None
            pending = boundaries(o_last, c_last)
            if not pending:
                state.remove()
            else:
                state.update(
                    (o_start, o_last, o_n, o_state, c_start, c_last, c_n)
                )
                state.setTimeoutTimestamp(max(min(pending), wm + 1))
            yield from flush(rows)
            return

        if state.exists:
            o_start, o_last, o_n, o_state, c_start, c_last, c_n = state.get
            st = json.loads(o_state) if o_state is not None else None
        else:
            o_start = o_last = o_n = c_start = c_last = c_n = None
            st = None

        chunks = list(pdfs)
        rows = []
        if chunks:
            events = pd.concat(chunks, ignore_index=True)
            # Stragglers match the tombstone AS OF batch start — before
            # any session this batch closes replaces it.
            stragglers, rest = _split_stragglers(events, c_start, c_last, gap_ms)
            for ev in stragglers.sort_values("_ts_ms").to_dict("records"):
                rows.append(late_row(ev, c_start, c_last))
            orphans, rest = _split_orphans(rest, o_start, gap_ms)
            for ev in orphans.sort_values("_ts_ms").to_dict("records"):
                rows.append(
                    row("late", None, None, 1, int(ev["_ts_ms"]), _late_payload(ev))
                )
            closed, o_start, o_last, o_n, st = _fold_batch(
                rest, "_ts_ms", fold, init, o_start, o_last, o_n, st, gap_ms
            )
            for c in closed:
                rows.append(session_row(*c))
            if closed:  # newest in-batch close takes the tombstone slot
                c_start, c_last, c_n = closed[-1][0], closed[-1][1], closed[-1][2]
        pending = boundaries(o_last, c_last)
        if not pending:  # no events and no prior state
            if state.exists:
                state.remove()
            yield from flush(rows)
            return
        state.update(
            (
                o_start, o_last, o_n,
                json.dumps(st) if o_last is not None else None,
                c_start, c_last, c_n,
            )
        )
        state.setTimeoutTimestamp(max(min(pending), wm + 1))
        yield from flush(rows)

    return src.groupBy(key_col).applyInPandasWithState(
        run, out, _GRACE_STATE_SCHEMA, "append", GroupStateTimeout.EventTimeTimeout
    )
