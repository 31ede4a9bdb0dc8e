"""`Stream` facade — the reference framework's developer API re-expressed
on Structured Streaming.

Capability parity (reference pspf/stream.py): a broker of named topics,
`emit` to produce, `@subscribe` for stateless per-message handlers,
`@window` for keyed event-time aggregation with watermark + late-data
routing — with Spark replacing the asyncio machinery:

- topic           -> directory of JSON-lines files (the reference's
                     FileStreamBackend, pspf/connectors/file.py, is the
                     semantics model; Kafka drops in by swapping the
                     reader/writer — sources/streams.py)
- consumer group  -> one streaming query + its checkpointLocation
                     (offsets survive restart => exactly-once consume,
                     reference docs/reliability.md:5-18)
- retry + DLQ     -> message-granular re-emit with attempt counts, then
                     `{topic}-dlq` with `_error` metadata
                     (pspf/processor.py:349-380) — see dlq.py
- late data       -> `{topic}-late` sibling topic (pspf/stream.py:402-413)
- watermark       -> Spark's checkpointed global watermark (strictly
                     stronger than the reference's in-memory per-handler
                     watermark, pspf/stream.py:391-393)

Tests drive everything with `run_until_idle()` (availableNow trigger +
processAllAvailable), the local stand-in for `run_forever()`.
"""

from __future__ import annotations

import json
import time
import uuid
from collections.abc import Callable
from dataclasses import dataclass, field
from pathlib import Path
from typing import TYPE_CHECKING, Any

if TYPE_CHECKING:  # pragma: no cover
    from python_stream_processing_framework_spark.operators.routing import Router

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from python_stream_processing_framework_spark.operators.common import read_parquet
from python_stream_processing_framework_spark.streaming.dlq import (
    _positional_arity,
    handle_batch_with_retries,
)
from python_stream_processing_framework_spark.streaming.windows import WindowSpec


#: knob values of a write-once table that predates the knob's stamp
#: column: pre-r13 vocabularies carry no stamps and are unigram, char
_UNSTAMPED = {"tokenizer": "unigram", "level": "char"}


@dataclass
class _Subscription:
    kind: str  # facade method name; run_until_idle calls `_start_{kind}`
    topic: str
    schema: StructType | None
    handler: Callable | None = None
    options: dict[str, Any] = field(default_factory=dict)
    source: str = ""  # checkpoint-name prefix when it is not `topic`

    @property
    def checkpoint(self) -> str:
        """`{topic}-{group}` (or `{source}-{group}`): the checkpoint
        directory name, which the query starter suffixes for companion
        queries (`--retry`, `--late`)."""
        return f"{self.source or self.topic}-{self.options['group']}"


def _write_batch_jsonl(
    batch: DataFrame,
    sink_dir: str,
    batch_id: int,
    tag: str = "",
    to_line: Callable | None = None,
) -> None:
    """Idempotent-per-batch_id distributed JSON-lines sink write.

    Spark's `foreachBatch` contract is at-least-once: after a crash
    between the sink write and the checkpoint commit, the SAME batch_id
    is re-run. A bare `mode("append")` write would then duplicate every
    row. Here each partition writes to a DETERMINISTIC file name
    (`batch-{batch_id}{tag}-p{partition}`) via write-then-rename, so a
    re-run of the batch overwrites the first attempt's files instead of
    appending — rename() replaces atomically, and readers (the file
    source's `*.json` glob) never observe a half-written file. The
    batch's partitioning is deterministic for a given batch_id (the
    checkpoint's offset log pins the exact source files before
    processing starts), which makes the rewrite byte-stable.

    JSON encoding parity with `Stream.emit`: one object per line,
    Python json (NaN literals permitted — Spark's reader parses them
    with its default allowNonNumericNumbers). ``to_line`` overrides how
    a row becomes its line, e.g. ``lambda row: row["value"]`` for rows
    that already carry one JSON document (the valkey_live payload
    column). An empty partition writes no file, so an empty batch
    leaves the sink untouched.
    """

    def write_partition(idx, rows_iter):
        import json as _json
        import os
        import uuid as _uuid

        # FINAL name deterministic per (batch_id, partition); TMP name
        # unique per ATTEMPT — concurrent attempts (speculation,
        # zombie task) sharing one tmp inode would interleave writes
        # and publish torn data via the other attempt's rename.
        name = f"batch-{batch_id:012d}{tag}-p{idx:05d}"
        tmp = os.path.join(sink_dir, f".{name}.{_uuid.uuid4().hex[:8]}.tmp")
        out = None
        for row in rows_iter:
            if out is None:
                out = open(tmp, "w")
            if to_line is None:
                line = _json.dumps(row.asDict(recursive=True), default=str)
            else:
                line = to_line(row)
            out.write(line + "\n")
        if out is not None:
            out.close()
            os.rename(tmp, os.path.join(sink_dir, name + ".json"))
        return iter(())

    batch.rdd.mapPartitionsWithIndex(write_partition).count()


class Stream:
    """A named event-stream application over a file-backed broker."""

    def __init__(
        self,
        spark: SparkSession,
        broker_dir: str,
        checkpoint_dir: str | None = None,
        name: str = "stream",
        tracer: Any | None = None,
        max_files_per_trigger: int = 64,
        state_partitions: int | None = None,
    ):
        """`tracer` (anything with `inject(dict)` / `extract(dict)` /
        `span_from(dict)`, e.g. `telemetry.W3CTracer`) turns on
        trace-context propagation: emit stamps `traceparent` into each
        event, subscribe handlers run inside the extracted span, and
        re-emits from a handler continue the incoming trace (reference
        pspf/telemetry.py:108-118).

        `max_files_per_trigger` is the broker-wide backpressure
        default (the reference's DEFAULT_BATCH_SIZE / poll tuning,
        pspf/settings.py:36-38); each subscription can override it.

        `state_partitions` sizes the STATE partitioning of this
        stream's stateful queries (window/sessionize/dedupe). Spark
        pins state width at first query start from
        spark.sql.shuffle.partitions and AQE never coalesces it, and
        each HDFS-state partition pays a fixed commit cost per
        micro-batch — so width should track rows-per-batch (~10-50k
        rows/partition), not core count; core-count width on a small
        topic is pure overhead (measured 2x wall in bench.py's
        streaming probe). Opt-in because the only mechanism Spark
        offers is a session-conf set/restore around query START: the
        start loop is serialized on the calling thread so this
        stream's own queries cannot race it, but an unrelated query
        STARTED concurrently on the same session by other code could
        observe the narrowed width (batch queries merely running are
        unaffected — width is read at plan time). Once a checkpoint
        exists its width is pinned; changing this knob needs fresh
        checkpoints."""
        self.spark = spark
        self.name = name
        self.tracer = tracer
        self.max_files_per_trigger = max_files_per_trigger
        self.state_partitions = state_partitions
        self.broker = Path(broker_dir)
        self.broker.mkdir(parents=True, exist_ok=True)
        self.checkpoints = Path(checkpoint_dir or (self.broker / "_checkpoints"))
        self.checkpoints.mkdir(parents=True, exist_ok=True)
        self._subscriptions: list[_Subscription] = []
        self._claimed: set[tuple[str, str]] = set()  # (topic, group)
        self._claimed_ckpts: set[str] = set()  # derived checkpoint names

    def _claim(self, topic: str, group: str, *suffixes: str) -> None:
        """Checkpoint identity = (topic, group): two subscriptions
        sharing it would share a checkpointLocation and corrupt each
        other — fail loudly at registration instead.

        The DERIVED checkpoint names are claimed too: a subscription's
        retry query checkpoints at `{topic}-{group}--retry`, which a
        group literally named `{group}--retry` on the same topic would
        collide with — (topic, group)-pair tracking alone can't see
        that, so the names themselves are the claim. ``suffixes`` names
        the companion queries' checkpoints (`--retry`, `--late`)."""
        key = (topic, group)
        if key in self._claimed:
            raise ValueError(
                f"consumer group {group!r} already registered on topic "
                f"{topic!r}; pass an explicit group= name"
            )
        ckpts = [f"{topic}-{group}{s}" for s in ("", *suffixes)]
        taken = self._claimed_ckpts.intersection(ckpts)
        if taken:
            raise ValueError(
                f"checkpoint name collision for group {group!r} on topic "
                f"{topic!r}: {sorted(taken)} already in use by another "
                "subscription; pick a different group= name"
            )
        self._claimed.add(key)
        self._claimed_ckpts.update(ckpts)

    def _register(
        self,
        kind: str,
        topic: str,
        schema: StructType | None,
        group: str,
        handler: Callable | None = None,
        *,
        source: str = "",
        suffixes: tuple[str, ...] = (),
        **options: Any,
    ) -> None:
        """Claim the group's checkpoint names and append the
        subscription; `run_until_idle` starts it with `_start_{kind}`.
        ``source`` replaces ``topic`` in the checkpoint name when the
        query does not read the topic (the Valkey ingest bridge)."""
        self._claim(source or topic, group, *suffixes)
        self._subscriptions.append(
            _Subscription(
                kind, topic, schema, handler, {**options, "group": group}, source
            )
        )

    def _write_once(
        self,
        path: str,
        data: DataFrame | None,
        needs: str,
        write: Callable[[DataFrame], None] | None = None,
        **stamps: Any,
    ) -> None:
        """The write-once table policy of the facades that score against
        a persisted table (monitor_drift, tokenize, classify,
        classify_text): the table
        at ``path`` is written ONCE, from ``data``, so restarts and
        re-registrations never swap it mid-stream; retraining is an
        explicit overwrite of the path. ``write`` persists ``data``
        (default: ``data`` plus one `_{knob}` literal column per
        ``stamps`` entry, to ``path``). An existing table whose stamps
        differ from ``stamps`` is refused, so scoring never runs
        against a table built under other knobs. Facades call this
        BEFORE `_register`: a failed registration claims nothing, and
        the corrected retry on the same Stream succeeds."""
        from pyspark.sql.utils import AnalysisException

        try:
            head = self.spark.read.parquet(path).head()
        except AnalysisException:
            # ONLY the missing-table path may trigger the write-once:
            # a transient read failure on an EXISTING table must
            # surface, not silently replace it
            if data is None:
                raise ValueError(
                    f"{needs} DataFrame the first time: no table under {path}"
                )
            if write is not None:
                write(data)
            else:
                data.withColumns(
                    {f"_{k}": F.lit(v) for k, v in stamps.items()}
                ).write.mode("overwrite").parquet(path)
            return
        if head is None:
            return
        row = head.asDict()
        stamped = {k: row.get(f"_{k}", _UNSTAMPED.get(k)) for k in stamps}
        if stamped != stamps:
            knobs = ", ".join(f"{k}={v!r}" for k, v in stamped.items())
            raise ValueError(
                f"table under {path} was persisted with {knobs}; re-register "
                "with those knobs or explicitly overwrite the path to retrain"
            )

    def _start_query(
        self,
        df: DataFrame,
        fn: Callable[[DataFrame, int], None],
        sub: _Subscription,
        *,
        suffix: str = "",
        output_mode: str | None = None,
    ):
        """The one micro-batch skeleton every facade runs on: an
        availableNow foreachBatch query over ``df``, checkpointed at
        `{sub.checkpoint}{suffix}`. ``fn`` is the per-batch_id
        idempotent sink."""
        writer = df.writeStream.foreachBatch(fn)
        if output_mode is not None:
            writer = writer.outputMode(output_mode)
        return (
            writer.option(
                "checkpointLocation", str(self.checkpoints / f"{sub.checkpoint}{suffix}")
            )
            .trigger(availableNow=True)
            .start()
        )

    # ------------------------------------------------------------- produce
    def topic_dir(self, topic: str) -> Path:
        d = self.broker / topic
        d.mkdir(parents=True, exist_ok=True)
        return d

    def emit(self, topic: str, *events: dict) -> list[str]:
        """Produce events to a topic (reference Stream.emit,
        pspf/stream.py:221-264): fills in event_id/timestamp when
        absent, appends one JSON-lines file per call (an atomic
        visibility unit for the file source)."""
        out_ids: list[str] = []
        lines = []
        for ev in events:
            ev = dict(ev)
            ev.setdefault("event_id", str(uuid.uuid4()))
            ev.setdefault("timestamp", time.time())
            if self.tracer is not None:
                # stamps traceparent; inside a handler span this
                # CONTINUES the incoming trace (same trace_id)
                self.tracer.inject(ev)
            out_ids.append(ev["event_id"])
            lines.append(json.dumps(ev, default=str))
        # write-then-rename: the file source must never list a batch
        # file mid-write (it would checkpoint the name and skip the
        # contents forever). rename() is atomic on the same filesystem.
        d = self.topic_dir(topic)
        tmp = d / f".batch-{uuid.uuid4().hex}.tmp"
        tmp.write_text("\n".join(lines) + "\n")
        tmp.rename(d / f"{tmp.stem.lstrip('.')}.json")
        return out_ids

    def read_topic(self, topic: str, schema: StructType) -> DataFrame:
        """Batch-read a topic (DLQ inspection, replay, assertions)."""
        d = self.topic_dir(topic)
        if not any(d.glob("*.json")):
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).json(str(d))

    def stream_topic(
        self,
        topic: str,
        schema: StructType,
        *,
        max_files_per_trigger: int | None = None,
    ) -> DataFrame:
        return (
            self.spark.readStream.schema(schema)
            .option(
                "maxFilesPerTrigger",
                max_files_per_trigger or self.max_files_per_trigger,
            )
            .json(str(self.topic_dir(topic)))
        )

    # ------------------------------------------------------------- consume
    def subscribe(
        self,
        topic: str | list[str],
        schema: StructType,
        *,
        max_retries: int = 3,
        group: str | None = None,
        max_files_per_trigger: int | None = None,
        distribute: bool = False,
        distribute_partitions: int | None = None,
        collect_failure_cap: int = 10_000,
    ) -> Callable[[Callable], Callable]:
        """Register a per-message handler (reference @stream.subscribe,
        pspf/stream.py:94-104). The handler is called once per message
        inside foreachBatch; exceptions route the message through the
        retry/DLQ path with `_error` metadata (pspf/processor.py:349-380).

        Handler arity is sniffed like the reference
        (pspf/stream.py:286-323): `(event)`, `(msg_id, data)`, or
        `(msg_id, data, ctx)` where `ctx.state` is a durable per-group
        KV store (reference Context, pspf/context.py:5-14).

        Retry bookkeeping rides on a `_attempt` LONG field: the
        subscription reads it back from the retry topic to enforce
        `max_retries`. If the given `schema` lacks `_attempt` it is
        appended automatically (handlers see `_attempt` as None on
        first delivery); declaring it yourself is also fine.

        A list of topics registers the same handler on each (one
        streaming query per topic — the reference runs one asyncio task
        per subscription, pspf/stream.py:131-150).

        ``distribute=True`` opts the handler into EXECUTOR-SIDE
        execution (dlq.handle_batch_with_retries distribute mode): the
        scale path for side-effect-safe handlers — partitions run in
        parallel, only failures return to the driver, delivery
        bookkeeping (retry/DLQ emission) stays single-writer. The
        handler must be picklable, per-message idempotent (pair with
        IdempotentSink event-id tokens for effectively-once), and
        CANNOT take ctx — durable group state is driver-owned, so the
        3-arg form raises here. Per-message trace SPANS are also
        driver-serial-only: distribute mode still delivers the
        `traceparent` field to handlers (they can propagate it
        manually), but does not open a span around each call — the
        tracer object is not shipped to executors. The driver-serial
        default remains the reference-parity ordering mode.

        ``collect_failure_cap`` bounds distribute-mode driver traffic:
        at most ~cap failed rows per micro-batch return to the driver;
        a poison batch's overflow is routed to the retry/DLQ topics
        executor-side with identical `_error` metadata
        (handle_batch_with_retries spill contract).
        """
        topics = [topic] if isinstance(topic, str) else list(topic)

        # `_attempt` must survive the read-back from the retry topic or
        # max_retries is never enforced (a failing message would retry
        # forever at attempt 0) — append it when the caller's schema
        # doesn't declare it.
        if "_attempt" not in schema.fieldNames():
            schema = StructType(
                list(schema.fields) + [StructField("_attempt", LongType())]
            )
        # with tracing on, handlers must SEE the traceparent field to
        # continue the trace — append it like _attempt
        if self.tracer is not None and "traceparent" not in schema.fieldNames():
            schema = StructType(
                list(schema.fields) + [StructField("traceparent", StringType())]
            )

        def deco(fn: Callable) -> Callable:
            if distribute and _positional_arity(fn) >= 3:
                raise ValueError(
                    "distribute=True handlers cannot take ctx: durable "
                    "group state is driver-owned; use the (event) or "
                    "(msg_id, data) form, with IdempotentSink tokens "
                    "for side-effect dedup"
                )
            for t in topics:
                self._register(
                    "subscribe",
                    t,
                    schema,
                    group or fn.__name__,
                    fn,
                    suffixes=("--retry",),
                    max_retries=max_retries,
                    max_files_per_trigger=max_files_per_trigger,
                    distribute=distribute,
                    distribute_partitions=distribute_partitions,
                    collect_failure_cap=collect_failure_cap,
                )
            return fn

        return deco

    def window(
        self,
        topic: str,
        window: WindowSpec,
        schema: StructType,
        *,
        key_field: str,
        ts_field: str = "timestamp",
        aggs: dict[str, Column],
        watermark_delay_ms: int = 0,
        sink_topic: str | None = None,
        group: str | None = None,
        late_topic: str | None = None,
        late_per_window: bool = False,
    ) -> None:
        """Register a keyed event-time windowed aggregation (reference
        @stream.window / Stream.aggregate, pspf/stream.py:106-118,
        325-471). Results stream to `sink_topic` (default
        `{topic}-agg`, or `{topic}-agg-N` for additional windows on the
        same topic) in update-ish semantics via foreachBatch; events
        later than the watermark are dropped by Spark's bookkeeping.

        `late_topic` turns the silent drop into the reference's
        `-late` routing (pspf/stream.py:402-413): a companion
        stateless query on the same topic classifies each event
        against a checkpointed high-watermark (max event time minus
        the delay, committed per batch_id so retries classify
        identically) and writes events whose latest relevant window
        end is behind it to `late_topic` as JSON. Pass e.g.
        `f"{topic}-late"`. The two queries keep independent — but
        identically defined — watermarks over the same topic, like
        the reference's per-handler watermarks; classifications can
        differ only transiently at a batch boundary.

        Sliding-window divergence (default): an event is routed to
        `late_topic` only when its NEWEST containing window has
        already closed. The reference emits a `-late` copy for EACH
        closed window, so an event that is late for older slides but
        still feeds a live one produces no `-late` record here (it is
        counted in the live window instead). Expect lower `-late`
        volume than the reference for sliding windows;
        tumbling/session volumes match. Pass
        ``late_per_window=True`` for reference-identical volume: one
        raw-event copy per closed containing window (the reference
        re-emits `raw_data` per late window, pspf/stream.py:401-413),
        including for events that still feed a live window.
        """
        n_windows = sum(
            1 for s in self._subscriptions if s.kind == "window" and s.topic == topic
        )
        suffix = "" if n_windows == 0 else f"-{n_windows}"
        self._register(
            "window",
            topic,
            schema,
            group or f"window-{topic}{suffix}",
            # the companion late router gets its own checkpoint
            suffixes=("--late",) if late_topic else (),
            window=window,
            key_field=key_field,
            ts_field=ts_field,
            aggs=aggs,
            watermark_delay_ms=watermark_delay_ms,
            sink_topic=sink_topic or f"{topic}-agg{suffix}",
            late_topic=late_topic,
            late_per_window=late_per_window,
        )

    def sessionize(
        self,
        topic: str,
        schema: StructType,
        *,
        key_field: str,
        ts_field: str = "timestamp",
        gap_ms: int,
        fold: Callable,
        init=None,
        watermark_delay_ms: int = 0,
        sink_topic: str | None = None,
        group: str | None = None,
        grace_ms: int | None = None,
        late_topic: str | None = None,
    ) -> None:
        """Register an emit-on-close session fold (streaming/sessions.py):
        the reference's session aggregation (pspf/stream.py:415-451) with
        the dropped-session bug fixed — every closed session emits one
        row (key, session_start_ms, session_end_ms, n_events,
        state_json) to `sink_topic`; sessions left open close via an
        event-time timer when the watermark passes last + gap.

        `grace_ms` adds ATTRIBUTED late capture (the reference's
        `{topic}-late` DLQ, pspf/stream.py:402-413, upgraded with
        session attribution): a straggler arriving within `grace_ms`
        after its session closed lands in `late_topic` (default
        `{topic}-late`) as one JSON row carrying the event payload
        plus `_ts_ms`, `_session_start_ms`, `_session_end_ms` — the
        DLQ `_error`-style metadata convention. Session rows still go
        to `sink_topic` with the unchanged 5-column contract."""
        self._register(
            "sessionize",
            topic,
            schema,
            group or f"session-{topic}",
            key_field=key_field,
            ts_field=ts_field,
            gap_ms=gap_ms,
            fold=fold,
            init=init,
            watermark_delay_ms=watermark_delay_ms,
            sink_topic=sink_topic or f"{topic}-sessions",
            grace_ms=grace_ms,
            late_topic=late_topic or f"{topic}-late",
        )

    def pipeline(self, topic: str, schema: StructType, *, group: str | None = None) -> "PipelineBuilder":
        """Chained map/filter/sink DSL — parity with the reference's
        StreamBuilder (pspf/processing/dsl.py:17-49): arbitrary Python
        per-element transforms, `None`/False drops the element and
        short-circuits the rest of the chain, `.sink(target)` registers
        the pipeline. For column-expressible logic prefer DataFrame ops
        (`stream_topic(...).select/filter` + file_sink) — this DSL is
        the arbitrary-Python tier, like the reference's."""
        return PipelineBuilder(self, topic, schema, group)

    def dedupe(
        self,
        topic: str,
        schema: StructType,
        *,
        keys: tuple[str, ...] = ("event_id",),
        target: str | None = None,
        group: str | None = None,
        watermark_delay_ms: int | None = None,
        ts_field: str = "timestamp",
    ) -> None:
        """Streaming first-occurrence dedup: forward `topic` to
        ``target`` (default `{topic}-deduped`) keeping ONE event per
        ``keys`` across micro-batches — the streaming form of exact
        dedup (SURVEY §7 phase 2; the reference approximates this with
        idempotent sink tokens, pspf/connectors/base.py:32-78, which
        dedupe only at the sink boundary).

        With ``watermark_delay_ms`` set, uses Spark's
        `dropDuplicatesWithinWatermark` over the event-time field
        (float seconds, facade convention): per-key state is EVICTED
        once the watermark passes it — the bounded-state shape a
        100 TB stream needs. Without it, `dropDuplicates` keeps every
        key seen forever (exact across any gap, state grows with
        distinct keys — fine for bounded key domains only). Dedup
        state and delivery both live in the query's checkpoint, and
        the sink write is idempotent per batch_id (deterministic
        per-partition file names, `_write_batch_jsonl`), so a restart
        neither re-delivers nor forgets — including the foreachBatch
        retry window between a sink write and its checkpoint commit.
        """
        self._register(
            "dedupe",
            topic,
            schema,
            group or f"{self.name}-dedupe",
            keys=list(keys),
            target=target or f"{topic}-deduped",
            watermark_delay_ms=watermark_delay_ms,
            ts_field=ts_field,
        )

    def dedupe_near(
        self,
        topic: str,
        schema: StructType,
        *,
        id_field: str = "doc_id",
        text_field: str = "text",
        target: str | None = None,
        group: str | None = None,
        index_path: str | None = None,
        threshold: float = 0.8,
        num_hashes: int = 16,
        bands: int = 8,
        shingle_k: int = 3,
        max_band_freq: int | None = None,
        compact_every: int | None = 64,
        granularity: str = "doc",
        sep: str = "\n",
    ) -> None:
        """Streaming NEAR-duplicate admission: forward to ``target``
        (default `{topic}-unique`) only documents that are not
        near-duplicates — of anything in this micro-batch (component-
        canonical, min id survives) or of any document admitted by an
        EARLIER batch. Content-level dedup, where `dedupe` is key-level.

        ``granularity="paragraph"`` (r13 verdict #4) switches the
        admission grain: each document's ``sep``-split paragraphs are
        fuzzy-deduped against this batch's AND every earlier-admitted
        batch's paragraphs (the same persisted MinHash index, keyed
        by positional composite ``doc:idx`` ids), and the document is
        forwarded REBUILT without its losing paragraphs — output rows
        are (id, text, n_paras, n_removed), the
        dedup_paragraphs_near batch-operator contract, so a live
        crawl feed sheds templated boilerplate continuously. Every
        doc yields a row (possibly with empty text if all its
        paragraphs lost); redelivery semantics, compaction, and the
        hot-bucket guard are identical to the doc grain. Recommended
        knobs at paragraph grain follow the batch operator: lower
        bands (4) / threshold (0.5) than doc-level defaults.

        State is the persisted MinHash signature index
        (operators/dedup_index.py) under ``index_path`` (default
        `{broker}/_indexes/{group}`) — parquet signatures keyed by
        batch partition, NOT Spark state-store state: the index
        survives restarts with the checkpoint, is queryable offline,
        and each batch's additions overwrite idempotently per
        batch_id, so a foreachBatch redelivery re-adjudicates against
        all OTHER batches and rewrites its own partition (the same
        write-twice contract as every sink here). Sink delivery is
        idempotent per batch_id too (`_write_batch_jsonl`).

        Index lifecycle: every batch appends one ``sigs/batch=<id>``
        directory; unbounded, that is 10^4 directories after 10^4
        micro-batches (listing + small-file cost on every cross-index
        read). Every ``compact_every`` batches the facade runs
        ``compact_index`` retaining ONLY the current batch tag — safe
        because Structured Streaming retries at most the current
        uncommitted batch; all earlier tags are checkpoint-committed
        and can never be re-admitted. Set ``compact_every=None`` to
        manage compaction externally.

        ``max_band_freq``: the family-wide hot-bucket guard
        (operators/dedup._cap_band_buckets). Recommended **256** for
        boilerplate-heavy topics (web crawls): measured
        recall-neutral outside capped buckets while bounding each
        band bucket's pair mass at O(256^2) — SCALE.md "Hot-bucket
        cap". Off (None) by default because inside a capped bucket
        near-dup recall is zero; leave it off for curated corpora.
        """
        if granularity not in ("doc", "paragraph"):
            raise ValueError(
                f"granularity must be 'doc' or 'paragraph', got {granularity!r}"
            )
        group = group or f"{self.name}-dedupe-near"
        self._register(
            "dedupe_near",
            topic,
            schema,
            group,
            id_field=id_field,
            text_field=text_field,
            target=target or f"{topic}-unique",
            index_path=index_path or str(self.broker / "_indexes" / group),
            threshold=threshold,
            num_hashes=num_hashes,
            bands=bands,
            shingle_k=shingle_k,
            max_band_freq=max_band_freq,
            compact_every=compact_every,
            granularity=granularity,
            sep=sep,
        )

    def dedupe_semantic(
        self,
        topic: str,
        schema: StructType,
        *,
        id_field: str = "vec_id",
        vec_field: str = "embedding",
        target: str | None = None,
        group: str | None = None,
        index_path: str | None = None,
        threshold: float = 0.9,
        bands: int = 8,
        band_bits: int = 4,
        max_band_freq: int | None = None,
        compact_every: int | None = 64,
    ) -> None:
        """Streaming SEMANTIC near-duplicate admission: forward to
        ``target`` (default `{topic}-unique`) only rows whose
        embedding is not a ``threshold``-cosine near-duplicate of
        anything in this micro-batch or of any row admitted by an
        EARLIER batch — the embedding-modality twin of
        :meth:`dedupe_near` (paraphrases and translations that
        lexical MinHash misses). Rows with a null ``vec_field`` pass
        through verbatim and are never indexed.

        State is the persisted sign-LSH signature index
        (operators/embed_index.py) under ``index_path`` (default
        `{broker}/_indexes/{group}`): parquet signatures (packed
        sign bits + quantized vector) keyed by batch partition, NOT
        Spark state-store state — survives restarts with the
        checkpoint, queryable offline, and each batch's additions
        overwrite idempotently per batch_id so a foreachBatch
        redelivery re-adjudicates against all OTHER batches and
        rewrites its own partition. Sink delivery is idempotent per
        batch_id (`_write_batch_jsonl`). Index lifecycle: compacts
        through the same layout-agnostic ``compact_index`` as
        dedupe_near, every ``compact_every`` batches, retaining only
        the current (retry-able) tag.

        ``max_band_freq``: the family-wide hot-bucket guard, here
        capping BOTH the within-batch band join and the index side
        of the cross-index join. Recommended **256** when the
        embedding stream can carry degenerate mass (padding vectors,
        boilerplate clusters) — measured recall-neutral outside
        capped buckets (SCALE.md "Hot-bucket cap"); off by default.
        """
        group = group or f"{self.name}-dedupe-semantic"
        self._register(
            "dedupe_semantic",
            topic,
            schema,
            group,
            id_field=id_field,
            vec_field=vec_field,
            target=target or f"{topic}-unique",
            index_path=index_path or str(self.broker / "_indexes" / group),
            threshold=threshold,
            bands=bands,
            band_bits=band_bits,
            max_band_freq=max_band_freq,
            compact_every=compact_every,
        )

    def ingest_valkey(
        self,
        url: str,
        stream_key: str,
        *,
        topic: str | None = None,
        group: str | None = None,
        batch_size: int = 1000,
    ) -> None:
        """Bridge a LIVE Valkey/Redis stream INTO the broker: the
        ``valkey_live`` streaming source (sources/valkey.py — entry-id
        offsets, exclusive-XRANGE paging) feeds ``topic`` (default:
        the stream key), from which every facade operator consumes as
        usual. This is the facade-level form of the reference's
        default-broker deployment (pspf/connectors/valkey.py is its
        broker; here Valkey is the INGEST EDGE and the file broker
        stays the exactly-once processing substrate).

        Exactly-once into the topic: the reader's entry-id offsets
        are checkpointed, and the bridge writes each micro-batch's
        payloads to DETERMINISTIC per-(batch_id, partition) file
        names (the `_write_batch_jsonl` discipline), so a retried
        batch overwrites its own files. Each stream entry's payload
        (the unflattened-field JSON `valkey_live` emits) becomes one
        event line — the same wire shape `emit` produces. Works
        against a real daemon or the embedded MiniValkeyServer
        (sources/resp.py) alike."""
        self._register(
            "ingest_valkey",
            topic or stream_key,
            None,
            group or f"{self.name}-ingest-{stream_key}",
            source=f"valkey[{stream_key}]",
            url=url,
            stream_key=stream_key,
            batch_size=batch_size,
        )

    def deliver_valkey(
        self,
        topic: str,
        schema: StructType,
        url: str,
        stream_key: str | None = None,
        *,
        group: str | None = None,
        maxlen: int | None = None,
        pipeline_size: int = 500,
        exactly_once: bool = False,
        num_shards: int | None = None,
        shard_by: str | None = None,
    ) -> None:
        """Bridge a broker topic OUT to a live Valkey/Redis stream:
        every event in ``topic`` is XADDed to ``stream_key`` (default:
        the topic name). The delivery edge of the same
        reference-parity story as :meth:`ingest_valkey`.

        ``exactly_once=False`` (default): the distributed pipelined
        producer (`valkey_stream_sink` — one connection + pipelined
        XADDs per partition, rows never visit the driver), AT-LEAST-
        ONCE on a foreachBatch retry; consumers dedupe on the
        ``event_id`` field `emit` guarantees present.

        ``exactly_once=True``: deterministic-entry-id delivery
        (`valkey_stream_sink_idempotent`) — a retried batch re-adds
        the same ids and the broker's XADD monotonicity rule rejects
        every already-delivered row, so duplicates are impossible.
        The trade: one serialized writer per batch (a stream is a
        total order anyway) and the stream must have NO other
        producers (their auto ids would be rejected).

        ``num_shards`` (with ``exactly_once=True``): spread each
        batch across `{stream_key}:0..N-1` via
        `valkey_stream_sink_idempotent_sharded` — N parallel writers,
        per-shard exactly-once, global order traded for throughput.
        ``shard_by`` names a column whose values must stay in one
        shard (per-key total order, the partition-key semantic);
        default is content-digest spreading."""
        stream_key = stream_key or topic
        self._register(
            "deliver_valkey",
            topic,
            schema,
            group or f"{self.name}-deliver-{stream_key}",
            url=url,
            stream_key=stream_key,
            maxlen=maxlen,
            pipeline_size=pipeline_size,
            exactly_once=exactly_once,
            num_shards=num_shards,
            shard_by=shard_by,
        )

    def decontaminate(
        self,
        topic: str,
        schema: StructType,
        heldout: DataFrame,
        *,
        text_field: str = "text",
        target: str | None = None,
        flagged: str | None = None,
        group: str | None = None,
        n: int = 13,
        m_bits: int = 1 << 17,
        k: int = 4,
    ) -> None:
        """Streaming corpus decontamination: forward to ``target``
        (default `{topic}-clean`) only documents whose ``n``-grams
        never hit the bloom bitmask built over ``heldout``'s n-grams;
        flagged docs land in ``flagged`` (default
        `{topic}-contaminated`) for audit. The batch operator's
        conservative-superset guarantee carries over: everything the
        exact 13-gram rule would drop is dropped (zero false
        negatives), plus a bounded false-positive mass.

        Scale shape: the bitmask is built ONCE at registration
        (driver-side metadata, <=2^20 bits — the same bounded-
        broadcast contract as bloom_decontaminate) and rides every
        micro-batch plan as literals; per batch the flag is a
        map-only column and the split adds ZERO exchanges and ZERO
        state — exactly-once comes free from the idempotent
        per-batch_id sink writes."""
        from python_stream_processing_framework_spark.operators.dedup import (
            bloom_build,
        )

        self._register(
            "decontaminate",
            topic,
            schema,
            group or f"{self.name}-decontaminate",
            text_field=text_field,
            target=target or f"{topic}-clean",
            flagged=flagged or f"{topic}-contaminated",
            words=bloom_build(heldout, text_field, n=n, m_bits=m_bits, k=k),
            n=n,
            k=k,
        )

    def decontaminate_semantic(
        self,
        topic: str,
        schema: StructType,
        heldout: DataFrame,
        *,
        id_field: str = "vec_id",
        vec_field: str = "embedding",
        target: str | None = None,
        flagged: str | None = None,
        group: str | None = None,
        index_path: str | None = None,
        threshold: float = 0.9,
        bands: int = 8,
        band_bits: int = 4,
        max_band_freq: int | None = None,
    ) -> None:
        """Streaming SEMANTIC decontamination: forward to ``target``
        (default `{topic}-clean`) only rows whose embedding is NOT a
        ``threshold``-cosine near-duplicate of any ``heldout`` row;
        flagged rows land in ``flagged`` (default
        `{topic}-contaminated`) for audit — the embedding-space
        member of the decontamination family (:meth:`decontaminate`
        is the lexical bloom member), catching PARAPHRASED benchmark
        contamination that shares no n-gram with the held-out text.
        Rows with a null ``vec_field`` pass through clean (they can't
        be near anything).

        State shape: the held-out side is signed ONCE at registration
        (operators/similarity.sign_signatures — packed sign bits +
        quantized vectors) and PERSISTED as parquet under
        ``index_path`` (default `{broker}/_indexes/{group}`), so
        restarts re-read the identical signatures instead of
        re-signing — the persistent-index-side mirror of
        :meth:`dedupe_semantic`, except the index never grows: the
        held-out set is fixed, so per-batch adjudication is
        STATELESS (batch signs once, band equi-join + hamming
        prefilter + quantized-exact cosine verify + anti-join against
        the loaded signatures) and exactly-once comes free from the
        idempotent per-batch_id sink writes. At scale the held-out
        side is benchmark-sized (thousands), the stream unbounded —
        the join always broadcasts the small signed side via the
        size-gated maybe_broadcast inside the operator.

        ``max_band_freq`` caps held-out-side band-bucket occupancy
        (the family hot-bucket guard; recommended 256 for degenerate
        embedding mass — SCALE.md "Hot-bucket cap")."""
        from python_stream_processing_framework_spark.operators.similarity import (
            sign_signatures,
        )

        group = group or f"{self.name}-decontaminate-semantic"
        index_path = index_path or str(self.broker / "_indexes" / group)
        sigs_path = f"{index_path}/heldout_sigs"
        sigs = sign_signatures(
            heldout, id_col=id_field, vec_col=vec_field, bands=bands,
            band_bits=band_bits,
        )
        # claim BEFORE the write: a colliding group must not overwrite
        # the held-out signatures another subscription reads
        self._register(
            "decontaminate_semantic",
            topic,
            schema,
            group,
            id_field=id_field,
            vec_field=vec_field,
            target=target or f"{topic}-clean",
            flagged=flagged or f"{topic}-contaminated",
            sigs_path=sigs_path if sigs is not None else None,
            threshold=threshold,
            bands=bands,
            band_bits=band_bits,
            max_band_freq=max_band_freq,
        )
        if sigs is not None:
            sigs.write.mode("overwrite").parquet(sigs_path)

    def _start_decontaminate_semantic(self, sub: _Subscription):
        """Per micro-batch: load the persisted held-out signatures,
        run the batch operator's band-join/verify/anti-join against
        them (distributed jobs, broadcast-sized held-out side), and
        split clean/flagged through the idempotent per-batch_id
        writes. No evolving state — the held-out set is fixed."""
        from python_stream_processing_framework_spark.operators.common import (
            release_caches,
        )
        from python_stream_processing_framework_spark.operators.similarity import (
            semantic_decontaminate,
        )

        o = sub.options
        src = self.stream_topic(sub.topic, sub.schema)
        clean_dir = str(self.topic_dir(o["target"]))
        flagged_dir = str(self.topic_dir(o["flagged"]))

        def split_batch(batch: DataFrame, batch_id: int) -> None:
            try:
                if o["sigs_path"] is None:
                    # empty / all-null held-out: nothing can flag
                    _write_batch_jsonl(batch, clean_dir, batch_id)
                    return
                sigs_h, _ = read_parquet(batch.sparkSession, o["sigs_path"])
                clean = semantic_decontaminate(
                    batch,
                    id_col=o["id_field"],
                    vec_col=o["vec_field"],
                    threshold=o["threshold"],
                    bands=o["bands"],
                    band_bits=o["band_bits"],
                    heldout_sigs=sigs_h,
                    max_band_freq=o.get("max_band_freq"),
                ).persist()
                try:
                    _write_batch_jsonl(clean, clean_dir, batch_id)
                    _write_batch_jsonl(
                        batch.join(
                            clean.select(o["id_field"]), o["id_field"], "left_anti"
                        ),
                        flagged_dir,
                        batch_id,
                        tag="-flagged",
                    )
                finally:
                    clean.unpersist()
            finally:
                release_caches()

        return self._start_query(src, split_batch, sub)

    def index_embeddings(
        self,
        topic: str,
        schema: StructType,
        index_path: str,
        *,
        id_field: str = "vec_id",
        vec_field: str = "embedding",
        group: str | None = None,
    ) -> None:
        """Streaming ANN-index maintenance: every micro-batch of
        embeddings on ``topic`` is assigned to the persisted IVF
        index's EXISTING cells (the standard IVF streaming-add
        contract — cells are fixed at training time) and appended
        under ``vectors/batch=<id>/cluster_id=.../``. The index must
        already exist (``build_ivf_index``); queries through
        ``ivf_index_topk`` see new vectors as soon as their batch
        lands, with the same partition-pruned probe cost.

        Exactly-once: each batch overwrites exactly its own
        ``batch=<id>`` directory (the dedup-index discipline), so a
        foreachBatch redelivery rewrites the same files and restarts
        never duplicate index entries. Null-vector rows are skipped
        (nothing to probe). Rebuild-and-swap to a fresh path when
        batch-dir count or cell drift degrades probes — see
        append_to_ivf_index's lifecycle note."""
        self._register(
            "index_embeddings",
            topic,
            schema,
            group or f"{self.name}-index-embeddings",
            index_path=index_path,
            id_field=id_field,
            vec_field=vec_field,
        )

    def score_novelty(
        self,
        topic: str,
        schema: StructType,
        *,
        id_field: str = "doc_id",
        text_field: str = "text",
        n: int = 3,
        target: str | None = None,
        group: str | None = None,
        index_path: str | None = None,
        compact_every: int | None = 64,
    ) -> None:
        """Streaming n-gram novelty scoring: every document on
        ``topic`` gets (n_grams, n_novel, novelty_ppm) rows on
        ``target`` (default `{topic}-novelty`), where novel = the
        gram's corpus-wide FIRST occurrence — earlier batches via the
        persisted gram index under ``index_path`` (default
        `{broker}/_indexes/{group}`), within a batch via
        ngram_novelty's min-id rule. The streaming form of the
        `doc_novelty` catalog query: watch a feed's marginal
        diversity decay live (a collapsing novelty curve is the
        re-crawl / exhausted-source tell).

        Exactly-once: scores deliver through the idempotent
        per-batch_id sink FIRST; the batch's grams then land as one
        overwrite-idempotent `grams/batch=<id>` partition, and the
        scoring read EXCLUDES the current batch's partition — so a
        foreachBatch redelivery scores identically whether or not
        its gram append already landed (the dedup-index retry
        discipline).

        Index lifecycle: every ``compact_every`` batches the facade
        runs ``compact_novelty_grams`` retaining ONLY the current
        batch tag (the single batch Structured Streaming can still
        retry; earlier tags are checkpoint-committed forever) — the
        same valve as dedupe_near's signature index, and here it
        also collapses cross-batch duplicate grams so the index is
        bounded by vocabulary, not sum-of-batch-vocabularies. Set
        ``compact_every=None`` to manage compaction externally."""
        group = group or f"{self.name}-novelty"
        self._register(
            "score_novelty",
            topic,
            schema,
            group,
            id_field=id_field,
            text_field=text_field,
            n=n,
            target=target or f"{topic}-novelty",
            index_path=index_path or str(self.broker / "_indexes" / group),
            compact_every=compact_every,
        )

    def monitor_drift(
        self,
        topic: str,
        schema: StructType,
        *,
        reference: DataFrame | None = None,
        source_field: str = "source",
        text_field: str = "text",
        target: str | None = None,
        group: str | None = None,
        ref_path: str | None = None,
        threshold_ppm: int | None = None,
        hysteresis: int = 1,
        alert_target: str | None = None,
        edge_only: bool = False,
    ) -> None:
        """Streaming mixture-shift alarm: every micro-batch on
        ``topic`` emits one (batch_seq, src, n_tokens, tv_ppm) row
        per source on ``target`` (default `{topic}-drift`) — the
        total-variation distance between that source's batch token
        distribution and a PERSISTED reference distribution. The
        streaming form of the `token_drift`/`source_drift` catalog
        queries: a feed whose tv_ppm curve jumps has changed
        character (new crawl config, language flip, spam wave)
        before any downstream metric notices. Plays the monitoring
        role of the reference's processor metrics hooks
        (pspf/processor.py:260-281) at the DATA level.

        ``threshold_ppm`` turns the raw gauge into an ALARM — the
        reference surfaces lag as alerts against a configured
        threshold, not as a bare counter the consumer must judge
        (pspf/processor.py:260-281); this is the same posture for
        data drift. When set, a source whose last ``hysteresis``
        CONSECUTIVE observations (its own drift rows — absence from
        a batch neither extends nor resets the run) all score
        ``tv_ppm > threshold_ppm`` emits one
        (batch_seq, src, n_tokens, tv_ppm) row per confirming batch
        on ``alert_target`` (default `{topic}-drift-alerts`).
        Level-triggered by default: it keeps firing while the
        condition holds, and hysteresis means one noisy batch never
        pages — only a sustained shift does. ``edge_only=True`` is
        the pager contract (r13 verdict #6): emit only STREAK-START
        rows — an alert whose condition did NOT already hold at the
        source's previous observation — computed as one extra lag
        inside the same bounded read (the k+1-th trailing
        observation). Sparse-source caveat inherited from the
        bounded read: a streak so old its k+1-th observation fell
        out of the lookback window re-reports an edge rather than
        staying silent (fail-noisy, never fail-quiet).
        The alert decision is a pure function
        of the drift topic's rows up to this batch_seq (recomputed
        identically on redelivery; same idempotent per-batch_id
        sink), and the read-back is metadata-scale: the drift topic
        carries ONE short row per (batch, source).

        The reference counts are written ONCE, at registration, from
        ``reference`` (skipped when ``ref_path`` already holds one —
        so restarts and re-registrations never move the yardstick;
        rebuilding it is an explicit `write_drift_reference` call).
        Each batch then compares statelessly against that immutable
        table, so exactly-once needs no index-append discipline at
        all: the idempotent per-batch_id sink is the whole story —
        a foreachBatch redelivery recomputes identical scores from
        identical inputs."""
        from python_stream_processing_framework_spark.operators.text import (
            write_drift_reference,
        )

        group = group or f"{self.name}-drift"
        ref_path = ref_path or str(self.broker / "_indexes" / group)
        # cheap validations FIRST — before the claim AND before the
        # write-once reference side effect, so a failed registration
        # poisons nothing for the corrected retry
        if hysteresis < 1:
            raise ValueError(f"hysteresis must be >= 1, got {hysteresis}")
        drift_target = target or f"{topic}-drift"
        alert_target = alert_target or f"{topic}-drift-alerts"
        # alert rows share the drift topic's 4-column shape: pointed
        # at the drift topic itself they'd be read back by the
        # hysteresis history glob and corrupt the streak computation
        # (r13 ADVICE) — refuse at registration, not mid-stream
        if alert_target == drift_target:
            raise ValueError(
                "monitor_drift: alert_target must differ from the "
                f"drift target ({drift_target!r}) — alert rows would "
                "be read back as drift history"
            )
        self._write_once(
            f"{ref_path}/total",
            reference,
            "monitor_drift needs a `reference`",
            lambda r: write_drift_reference(r, ref_path, text_col=text_field),
        )
        self._register(
            "monitor_drift",
            topic,
            schema,
            group,
            source_field=source_field,
            text_field=text_field,
            target=drift_target,
            ref_path=ref_path,
            threshold_ppm=threshold_ppm,
            hysteresis=hysteresis,
            alert_target=alert_target,
            edge_only=bool(edge_only),
        )

    def tokenize(
        self,
        topic: str,
        schema: StructType,
        *,
        vocab: DataFrame | None = None,
        id_field: str = "doc_id",
        text_field: str = "text",
        target: str | None = None,
        group: str | None = None,
        vocab_path: str | None = None,
        max_piece_len: int = 4,
        max_word_len: int = 16,
        byte_fallback: bool = False,
        tokenizer: str = "unigram",
        level: str = "char",
    ) -> None:
        """Streaming token-budget meter: every document on ``topic``
        emits one (batch_seq, id, n_words, n_pieces) row on ``target``
        (default `{topic}-tokens`) — its piece count under a TRAINED
        vocabulary, the number a budget planner reads off a live
        feed. ``tokenizer`` picks the lineage — the full trio:
        ``"unigram"`` (the (piece, cnt, logp_nano) frame
        ``unigram_train`` returns, Viterbi segmentation),
        ``"wordpiece"`` (the (piece, cnt) frame ``wordpiece_vocab``
        builds from the TRAINING corpus, greedy longest-match), or
        ``"bpe"`` (r14 — the merge table ``bpe_train`` returns,
        map-only merge replay; ``level="byte"`` serves the GPT-2
        byte-level contract and is stamped into the persisted table
        so a re-registration under the other level fails loudly).
        Unsegmentable or over-length words count 1 piece (UNK) — or
        length(word) pieces with ``byte_fallback=True``, pricing what
        unigram_encode(byte_fallback=True) would emit (unigram only:
        WordPiece makes no char-coverage promise and BPE never UNKs
        at all — its seed symbols cover every word — so the option
        raises for both) — and null text is metered as empty, so
        every document always yields a row — a consumer reconciling
        rows against emitted doc counts never blocks on a missing
        one.

        The vocabulary is persisted ONCE at registration under
        ``vocab_path`` (skipped when one already exists, the
        monitor_drift write-once discipline: restarts and
        re-registrations never swap tokenizers mid-stream; retraining
        is an explicit overwrite of that path) — WITH the tokenizer
        kind stamped in, so a re-registration under a different
        ``tokenizer=`` fails loudly instead of silently re-scoring
        the same table under another algorithm. Each batch then
        segments its DISTINCT words against that immutable table, so
        scoring is stateless per batch and exactly-once is just the
        idempotent per-batch_id sink."""
        if tokenizer not in ("unigram", "wordpiece", "bpe"):
            raise ValueError(
                "tokenizer must be 'unigram', 'wordpiece', or 'bpe', "
                f"got {tokenizer!r}"
            )
        if byte_fallback and tokenizer != "unigram":
            raise ValueError(
                "byte_fallback is the unigram char-coverage contract; "
                "WordPiece UNKs whole words (count 1) and BPE never "
                "UNKs at all"
            )
        if level != "char" and tokenizer != "bpe":
            raise ValueError(
                f"level={level!r} is a BPE option (char/byte seed "
                "symbols); unigram and WordPiece are char-level"
            )
        if tokenizer == "bpe" and level not in ("char", "byte"):
            raise ValueError(f"level must be 'char' or 'byte', got {level!r}")
        group = group or f"{self.name}-tokens"
        vocab_path = vocab_path or str(self.broker / "_indexes" / group)
        self._write_once(
            f"{vocab_path}/vocab",
            vocab,
            "tokenize needs a trained `vocab`",
            tokenizer=tokenizer,
            level=level,
        )
        self._register(
            "tokenize",
            topic,
            schema,
            group,
            id_field=id_field,
            text_field=text_field,
            target=target or f"{topic}-tokens",
            vocab_path=vocab_path,
            max_piece_len=max_piece_len,
            max_word_len=max_word_len,
            byte_fallback=byte_fallback,
            tokenizer=tokenizer,
            level=level,
        )

    def classify(
        self,
        topic: str,
        schema: StructType,
        *,
        weights: DataFrame | None = None,
        id_field: str = "doc_id",
        vec_field: str = "embedding",
        target: str | None = None,
        group: str | None = None,
        weights_path: str | None = None,
    ) -> None:
        """Streaming probe serving: every document on ``topic`` emits
        one (batch_seq, id, pred, z_nano) row on ``target`` (default
        `{topic}-classes`) — its argmax class under a TRAINED linear
        probe (operators/probe.py), the live form of the
        `probe_confusion` catalog query's serve step. The curation
        gate a feed actually runs: quality/domain routing of incoming
        documents by their frozen-embedding scores.

        The weight table — linear_probe_train's (label, dim, w_nano)
        frame — is persisted ONCE at registration under
        ``weights_path`` (the tokenize/monitor_drift write-once
        discipline: restarts and re-registrations never swap models
        mid-stream; retraining is an explicit overwrite). Scoring is
        a PURE MAP per batch (argmax over class-many literal dot
        products, no join), stateless, so exactly-once is just the
        idempotent per-batch_id sink. Null or wrong-dimension
        embedding values classify as the ZERO vector (z=0 for every
        class, pred = smallest label) — deterministic, and every
        document always yields a row."""
        group = group or f"{self.name}-classes"
        weights_path = weights_path or str(self.broker / "_indexes" / group)
        self._write_once(
            f"{weights_path}/weights", weights, "classify needs a trained `weights`"
        )
        self._register(
            "classify",
            topic,
            schema,
            group,
            id_field=id_field,
            vec_field=vec_field,
            target=target or f"{topic}-classes",
            weights_path=weights_path,
        )

    def classify_text(
        self,
        topic: str,
        schema: StructType,
        *,
        model: DataFrame | None = None,
        id_field: str = "doc_id",
        text_field: str = "text",
        target: str | None = None,
        group: str | None = None,
        model_path: str | None = None,
        n: int = 3,
        n_buckets: int = 4_096,
    ) -> None:
        """Streaming TEXT-classifier serving: every document on
        ``topic`` emits one (batch_seq, id, pred, score_nano) row on
        ``target`` (default `{topic}-textclass`) — its argmax class
        under a TRAINED char-n-gram model (operators/charclf.py, the
        fastText lang-id shape). The text-side sibling of
        :meth:`classify` (which gates on frozen embeddings): the
        lang/topic routing a raw-text feed runs before any embedding
        exists.

        The model — charclf_train's (label, bucket, w_nano) table —
        is persisted ONCE at registration under ``model_path`` (the
        classify/tokenize write-once discipline) WITH the
        featurization knobs stamped in (``n``/``n_buckets`` ride as
        literal columns): a re-registration under different knobs
        fails loudly instead of silently bucketing grams against the
        wrong hash space. Scoring per batch is charclf_predict's
        one-shuffle shape (broadcast pivoted model + id-keyed sum +
        map-only argmax), stateless, so exactly-once is the
        idempotent per-batch_id sink; null or zero-gram text scores
        on the class priors alone — every document always yields a
        row."""
        group = group or f"{self.name}-textclass"
        model_path = model_path or str(self.broker / "_indexes" / group)
        self._write_once(
            f"{model_path}/model",
            model,
            "classify_text needs a trained `model`",
            n=int(n),
            n_buckets=int(n_buckets),
        )
        self._register(
            "classify_text",
            topic,
            schema,
            group,
            id_field=id_field,
            text_field=text_field,
            target=target or f"{topic}-textclass",
            model_path=model_path,
            n=int(n),
            n_buckets=int(n_buckets),
        )

    def _start_classify_text(self, sub: _Subscription):
        from python_stream_processing_framework_spark.operators.charclf import (
            charclf_predict,
        )
        from python_stream_processing_framework_spark.operators.common import (
            persist_lazy,
        )

        o = sub.options
        src = self.stream_topic(sub.topic, sub.schema)
        sink_dir = str(self.topic_dir(o["target"]))
        # the model table is WRITE-ONCE under model_path (stamped at
        # registration; re-registration under different knobs fails
        # loudly), so it is loaded and pinned ONCE at stream start —
        # the r15 shape re-read the parquet inside every micro-batch,
        # a per-batch static-table scan the write-once discipline
        # makes pointless (r16, VERDICT r15 #9 / guide §3.2, §6). The
        # table is bounded (<= |labels| * (n_buckets + 2) rows);
        # persist_lazy: batch 1's model collect populates the blocks.
        model = persist_lazy(
            self.spark.read.parquet(f"{o['model_path']}/model").drop(
                "_n", "_n_buckets"
            )
        )

        def classify_text_batch(batch: DataFrame, batch_id: int) -> None:
            if batch.isEmpty():
                return
            out = charclf_predict(
                batch.select(o["id_field"], o["text_field"]),
                model,
                o["id_field"],
                o["text_field"],
                n=o["n"],
                n_buckets=o["n_buckets"],
            ).select(
                F.lit(int(batch_id)).alias("batch_seq"),
                o["id_field"],
                "pred",
                "score_nano",
            )
            _write_batch_jsonl(out, sink_dir, batch_id)

        return self._start_query(src, classify_text_batch, sub)

    def _start_classify(self, sub: _Subscription):
        from python_stream_processing_framework_spark.operators.probe import (
            linear_probe_predict,
        )

        o = sub.options
        src = self.stream_topic(sub.topic, sub.schema)
        sink_dir = str(self.topic_dir(o["target"]))

        def classify_batch(batch: DataFrame, batch_id: int) -> None:
            if batch.isEmpty():
                return
            weights, _ = read_parquet(
                batch.sparkSession, f"{o['weights_path']}/weights"
            )
            dim = 1 + weights.agg(F.max("dim")).head()[0]
            # null / wrong-dim / element-null vectors -> the zero
            # vector: every doc yields a row, deterministically
            # (z=0, smallest label). The forall guard matters: a
            # correct-length vector with a null ELEMENT would null
            # the dot product and degrade pred via null-struct
            # ordering (r13 ADVICE)
            zero = F.array(*[F.lit(0.0)] * dim)
            vec = F.col(o["vec_field"])
            batch = batch.withColumn(
                o["vec_field"],
                F.when(
                    vec.isNotNull()
                    & (F.size(vec) == dim)
                    & F.forall(vec, lambda x: x.isNotNull()),
                    vec,
                ).otherwise(zero),
            )
            out = linear_probe_predict(
                batch, weights, o["vec_field"]
            ).select(
                F.lit(int(batch_id)).alias("batch_seq"),
                o["id_field"],
                "pred",
                "z_nano",
            )
            _write_batch_jsonl(out, sink_dir, batch_id)

        return self._start_query(src, classify_batch, sub)

    def _start_tokenize(self, sub: _Subscription):
        from python_stream_processing_framework_spark.operators.unigram import (
            unigram_segment_counts,
        )

        o = sub.options
        src = self.stream_topic(sub.topic, sub.schema)
        sink_dir = str(self.topic_dir(o["target"]))

        def tokenize_batch(batch: DataFrame, batch_id: int) -> None:
            if batch.isEmpty():
                return
            vocab, _ = read_parquet(
                batch.sparkSession, f"{o['vocab_path']}/vocab"
            )
            # null text meters as empty — tokens_expr(NULL) explodes
            # to nothing and the doc's row would silently vanish,
            # breaking the every-doc-yields-a-row contract
            batch = batch.withColumn(
                o["text_field"], F.coalesce(F.col(o["text_field"]), F.lit(""))
            )
            if o.get("tokenizer", "unigram") == "wordpiece":
                from python_stream_processing_framework_spark.operators.wordpiece import (  # noqa: E501
                    wordpiece_segment_counts,
                )

                segmented = wordpiece_segment_counts(
                    batch,
                    o["id_field"],
                    o["text_field"],
                    vocab,
                    max_word_len=o["max_word_len"],
                )
            elif o.get("tokenizer", "unigram") == "bpe":
                from python_stream_processing_framework_spark.operators.bpe import (  # noqa: E501
                    bpe_segment_counts,
                )

                segmented = bpe_segment_counts(
                    batch,
                    o["id_field"],
                    o["text_field"],
                    vocab,
                    level=o.get("level", "char"),
                )
            else:
                segmented = unigram_segment_counts(
                    batch,
                    o["id_field"],
                    o["text_field"],
                    vocab,
                    max_piece_len=o["max_piece_len"],
                    max_word_len=o["max_word_len"],
                    byte_fallback=o.get("byte_fallback", False),
                )
            counts = segmented.select(
                F.lit(int(batch_id)).alias("batch_seq"),
                o["id_field"],
                "n_words",
                "n_pieces",
            )
            _write_batch_jsonl(counts, sink_dir, batch_id)

        return self._start_query(src, tokenize_batch, sub)

    def _start_monitor_drift(self, sub: _Subscription):
        from python_stream_processing_framework_spark.operators.text import (
            drift_scores_batch,
        )

        o = sub.options
        src = self.stream_topic(sub.topic, sub.schema)
        sink_dir = str(self.topic_dir(o["target"]))

        def drift_batch(batch: DataFrame, batch_id: int) -> None:
            if batch.isEmpty():
                return
            # null text needs NO facade normalization here (unlike
            # _start_tokenize, where every doc must price): a null
            # row contributes zero tokens, which is the honest
            # distribution — coalescing to '' would mint one phantom
            # empty-string token per null row and DISTORT the TV of
            # sources mixing null and real rows (r13 review). The
            # every-source-accounted posture is drift_scores_batch's
            # own sources join: an all-null source still emits its
            # (n_tokens=0, tv_ppm=1e6) row.
            scores = drift_scores_batch(
                batch,
                o["ref_path"],
                group_col=o["source_field"],
                text_col=o["text_field"],
            ).select(
                F.lit(int(batch_id)).alias("batch_seq"),
                "src",
                "n_tokens",
                "tv_ppm",
            )
            _write_batch_jsonl(scores, sink_dir, batch_id)
            if o["threshold_ppm"] is not None:
                self._emit_drift_alerts(o, batch_id)

        return self._start_query(src, drift_batch, sub)

    def _emit_drift_alerts(self, o: dict, batch_id: int) -> None:
        """Hysteresis-confirmed drift alerting (monitor_drift with
        ``threshold_ppm``): read the drift topic back — one short
        row per (batch, source) — and alert every source whose last
        ``hysteresis`` observations ALL exceed the threshold, newest
        being this batch. The decision is a pure function of the
        topic's rows with batch_seq <= this batch (redelivery
        rewrote the current batch's rows byte-stable before this
        runs), so the alert write needs nothing beyond the same
        idempotent per-batch_id sink.

        BOUNDED read (r13 review): reading the whole topic every
        batch is O(batches^2) cumulative over the stream's lifetime;
        only the newest k observations per source can affect the
        decision, so the read is limited to the trailing
        ``max(64, 8*k)`` batch ids' sink files (deterministic
        `batch-<id>` names — filename-pruned, never listed into
        Spark). The one semantic consequence is documented, not
        silent: a source so sparse that its last k observations do
        not fit in that window cannot confirm a streak and stays
        quiet — bounded per-batch work wins over alerting on feeds
        quieter than ~one row per 8k/64 batches."""
        from pyspark.sql.window import Window

        drift_schema = StructType(
            [
                StructField("batch_seq", LongType()),
                StructField("src", StringType()),
                StructField("n_tokens", LongType()),
                StructField("tv_ppm", LongType()),
            ]
        )
        k = int(o["hysteresis"])
        thr = int(o["threshold_ppm"])
        lookback = max(64, 8 * k)
        floor = int(batch_id) - lookback
        paths = []
        for p in self.topic_dir(o["target"]).glob("batch-*.json"):
            try:
                seq = int(p.name.split("-")[1])
            except (IndexError, ValueError):
                continue
            if floor < seq <= int(batch_id):
                paths.append(str(p))
        if not paths:
            return
        history = self.spark.read.schema(drift_schema).json(paths)
        w = Window.partitionBy("src").orderBy(F.col("batch_seq").desc())
        # k+1 trailing observations: rows 1..k decide the alert, row
        # 2..k+1 decide whether it already held at the PREVIOUS
        # observation (the edge_only lag)
        recent = history.withColumn("_rn", F.row_number().over(w)).filter(
            F.col("_rn") <= k + 1
        )
        ex = (F.col("tv_ppm") > thr).cast("int")
        alerts = (
            recent.groupBy("src")
            .agg(
                F.sum((F.col("_rn") <= k).cast("int")).alias("_n"),
                F.min(F.when(F.col("_rn") <= k, ex)).alias("_allex"),
                F.max("batch_seq").alias("_newest"),
                F.max(F.struct("batch_seq", "n_tokens", "tv_ppm")).alias("_c"),
                F.sum((F.col("_rn") >= 2).cast("int")).alias("_pn"),
                F.min(F.when(F.col("_rn") >= 2, ex)).alias("_pallex"),
            )
            .filter(
                (F.col("_n") >= k)
                & (F.col("_allex") == 1)
                & (F.col("_newest") == int(batch_id))
            )
            .select(
                F.lit(int(batch_id)).alias("batch_seq"),
                "src",
                F.col("_c.n_tokens").alias("n_tokens"),
                F.col("_c.tv_ppm").alias("tv_ppm"),
                ((F.col("_pn") >= k) & (F.col("_pallex") == 1)).alias(
                    "_held"
                ),
            )
        )
        if o.get("edge_only"):
            alerts = alerts.filter(~F.col("_held"))
        alerts = alerts.drop("_held")
        _write_batch_jsonl(
            alerts, str(self.topic_dir(o["alert_target"])), batch_id
        )

    def _start_score_novelty(self, sub: _Subscription):
        from python_stream_processing_framework_spark.operators.text import (
            append_novelty_grams,
            compact_novelty_grams,
            novelty_scores_batch,
        )

        o = sub.options
        src = self.stream_topic(sub.topic, sub.schema)
        sink_dir = str(self.topic_dir(o["target"]))

        def score_batch(batch: DataFrame, batch_id: int) -> None:
            if batch.isEmpty():
                return
            scores = novelty_scores_batch(
                batch,
                o["index_path"],
                str(batch_id),
                id_col=o["id_field"],
                text_col=o["text_field"],
                n=o["n"],
            )
            _write_batch_jsonl(scores, sink_dir, batch_id)
            # AFTER delivery: a crash between the two writes retries
            # with the index unchanged (or, post-append, excluded by
            # tag) — either way the same scores
            append_novelty_grams(
                batch,
                o["index_path"],
                str(batch_id),
                text_col=o["text_field"],
                n=o["n"],
            )
            every = o.get("compact_every")
            if every and batch_id > 0 and batch_id % every == 0:
                # retain only the CURRENT tag: it is the single batch
                # a foreachBatch redelivery can retry; earlier tags
                # are checkpoint-committed forever (see dedupe_near)
                compact_novelty_grams(
                    batch.sparkSession,
                    o["index_path"],
                    retain_tags=[str(batch_id)],
                )

        return self._start_query(src, score_batch, sub)

    def _start_index_embeddings(self, sub: _Subscription):
        from python_stream_processing_framework_spark.operators.ann_index import (
            append_to_ivf_index,
        )

        o = sub.options
        src = self.stream_topic(sub.topic, sub.schema)

        def append_batch(batch: DataFrame, batch_id: int) -> None:
            if batch.isEmpty():
                return
            append_to_ivf_index(
                batch.sparkSession,
                o["index_path"],
                batch,
                str(batch_id),
                id_col=o["id_field"],
                vec_col=o["vec_field"],
            )

        return self._start_query(src, append_batch, sub)

    def _start_ingest_valkey(self, sub: _Subscription):
        """Valkey -> broker bridge: the valkey_live source's
        checkpointed entry-id offsets + the deterministic-file-name
        sink write give the topic exactly-once ingest."""
        from python_stream_processing_framework_spark.sources.valkey import (
            valkey_live_stream,
        )

        o = sub.options
        src = valkey_live_stream(
            self.spark, o["url"], o["stream_key"], batch_size=o["batch_size"]
        )
        sink_dir = str(self.topic_dir(sub.topic))

        def write_sink(batch: DataFrame, batch_id: int) -> None:
            # each payload already is one event's JSON document
            _write_batch_jsonl(
                batch, sink_dir, batch_id, to_line=lambda row: row["value"]
            )

        return self._start_query(src, write_sink, sub)

    def _start_deliver_valkey(self, sub: _Subscription):
        """Broker -> Valkey bridge: pipelined XADD per micro-batch —
        distributed/at-least-once by default, serialized/exactly-once
        via deterministic entry ids when requested (deliver_valkey)."""
        from python_stream_processing_framework_spark.sources.valkey import (
            valkey_stream_sink,
            valkey_stream_sink_idempotent,
        )

        o = sub.options
        src = self.stream_topic(sub.topic, sub.schema)

        def write_sink(batch: DataFrame, batch_id: int) -> None:
            if o.get("exactly_once"):
                if o.get("num_shards"):
                    from python_stream_processing_framework_spark.sources.valkey import (
                        valkey_stream_sink_idempotent_sharded,
                    )

                    valkey_stream_sink_idempotent_sharded(
                        batch,
                        o["url"],
                        o["stream_key"],
                        batch_id=batch_id,
                        num_shards=o["num_shards"],
                        shard_by=o.get("shard_by"),
                        maxlen=o["maxlen"],
                        pipeline_size=o["pipeline_size"],
                    )
                    return
                valkey_stream_sink_idempotent(
                    batch,
                    o["url"],
                    o["stream_key"],
                    batch_id=batch_id,
                    maxlen=o["maxlen"],
                    pipeline_size=o["pipeline_size"],
                )
                return
            valkey_stream_sink(
                batch,
                o["url"],
                o["stream_key"],
                maxlen=o["maxlen"],
                pipeline_size=o["pipeline_size"],
            )

        return self._start_query(src, write_sink, sub)

    def _start_decontaminate(self, sub: _Subscription):
        from python_stream_processing_framework_spark.operators.dedup import (
            _with_bloom_flag,
        )

        o = sub.options
        src = self.stream_topic(sub.topic, sub.schema)
        clean_dir = str(self.topic_dir(o["target"]))
        flagged_dir = str(self.topic_dir(o["flagged"]))

        def split_batch(batch: DataFrame, batch_id: int) -> None:
            # persist: the flag plan feeds TWO writes; without it the
            # micro-batch source re-executes per branch
            tagged = _with_bloom_flag(
                batch, o["words"], o["text_field"], n=o["n"], k=o["k"]
            ).persist()
            try:
                if tagged.isEmpty():
                    return
                _write_batch_jsonl(
                    tagged.filter(~F.col("bloom_flagged")).drop("bloom_flagged"),
                    clean_dir,
                    batch_id,
                )
                _write_batch_jsonl(
                    tagged.filter(F.col("bloom_flagged")).drop("bloom_flagged"),
                    flagged_dir,
                    batch_id,
                    tag="-flagged",
                )
            finally:
                tagged.unpersist()

        return self._start_query(src, split_batch, sub)

    def fold(
        self,
        topic: str,
        schema: StructType,
        fold_fn: Callable,
        *,
        key_field: str,
        ts_field: str,
        init=None,
        target: str | None = None,
        group: str | None = None,
        ttl_ms: int | None = None,
    ) -> None:
        """Register an arbitrary per-key stateful fold on ``topic`` —
        the reference's `async def handler(event, state) -> state`
        contract (pspf/stream.py:325-347) over Spark's managed state
        (streaming/state.keyed_fold_stream). Each micro-batch, every
        key that received events emits its UPDATED (key, state_json)
        row to ``target`` (default `{topic}-state`), tagged with the
        batch id so `read_fold_states` can reduce to latest-per-key.
        State survives restarts with the checkpoint (exactly-once),
        and ``ttl_ms`` evicts idle keys.

        This is what gives the analytics family batch+streaming
        duality: operators/funnel.funnel_fold and retention_fold plug
        in here unchanged, and their *_from_states reports equal the
        batch funnel_stats / retention_cohorts outputs (pinned in
        tests/test_fold_facade.py)."""
        self._register(
            "fold",
            topic,
            schema,
            group or f"{self.name}-fold",
            fold_fn,
            key_field=key_field,
            ts_field=ts_field,
            init=init,
            target=target or f"{topic}-state",
            ttl_ms=ttl_ms,
        )

    def read_fold_states(self, topic: str, key_field: str, key_type=None):
        """Latest state per key from a fold target topic: rows are
        (key, state_json, _batch_id); a key updated by several
        micro-batches keeps the row of the highest batch id.
        ``key_type`` is a pyspark DataType (default StringType)."""
        schema = StructType(
            [
                StructField(key_field, key_type or StringType()),
                StructField("state_json", StringType()),
                StructField("_batch_id", LongType()),
            ]
        )
        rows = self.read_topic(topic, schema)
        return (
            rows.groupBy(key_field)
            .agg(F.max_by("state_json", "_batch_id").alias("state_json"))
        )

    def _start_fold(self, sub: _Subscription):
        from python_stream_processing_framework_spark.streaming.state import (
            keyed_fold_stream,
        )

        o = sub.options
        src = self.stream_topic(sub.topic, sub.schema)
        folded = keyed_fold_stream(
            src,
            o["key_field"],
            o["ts_field"],
            sub.handler,
            o["init"],
            ttl_ms=o["ttl_ms"],
        )
        sink_dir = str(self.topic_dir(o["target"]))

        def write_states(batch: DataFrame, batch_id: int) -> None:
            _write_batch_jsonl(
                batch.withColumn("_batch_id", F.lit(batch_id).cast("long")),
                sink_dir,
                batch_id,
            )

        return self._start_query(folded, write_states, sub, output_mode="update")

    def route(
        self,
        topic: str,
        schema: StructType,
        router: "Router",
        *,
        group: str | None = None,
    ) -> None:
        """Register a predicate-router fan-out on `topic` (reference
        advanced_topology: `router.route(event)` publishes each event
        to its first matching sub-topic; subscribers then consume the
        sub-topics). Spark-first shape: each micro-batch is tagged in
        ONE `when/otherwise` pass (operators/routing.Router.tag), then
        every route's subset is written DISTRIBUTED to that route's
        topic dir — the batch is persisted so the source is scanned
        once, not once per route, and no row visits the driver.
        Unroutable events are dropped, like the reference
        (pspf/topology.py:40-46).
        """
        self._register(
            "route", topic, schema, group or f"{self.name}-route", router=router
        )

    # ------------------------------------------------------------- running
    def _group_context(self, group: str):
        """One Context per consumer group, shared by every subscription
        in the group — concurrent topic handlers serialize through the
        same locked KVState (two instances over one file would lose
        updates)."""
        from python_stream_processing_framework_spark.streaming.context import (
            Context,
            KVState,
        )

        if not hasattr(self, "_contexts"):
            self._contexts: dict[str, Context] = {}
        if group not in self._contexts:
            self._contexts[group] = Context(
                KVState(self.broker / "_state" / f"{group}.json")
            )
        return self._contexts[group]

    def _start_subscribe(self, sub: _Subscription):
        max_retries = sub.options["max_retries"]
        handler = sub.handler
        stream_self = self
        group = sub.options["group"]
        ctx = self._group_context(group)
        # retries live on a PRIVATE sibling topic per (topic, group) —
        # the reference keeps them in the group's PEL; re-emitting to
        # the shared topic would duplicate them for other subscribers.
        retry_topic = f"{sub.topic}--retry--{group}"

        distribute = sub.options.get("distribute", False)

        def process(batch: DataFrame, batch_id: int) -> None:
            handle_batch_with_retries(
                batch,
                handler=handler,
                topic=sub.topic,
                max_retries=max_retries,
                emit=stream_self.emit,
                ctx=ctx,
                retry_topic=retry_topic,
                tracer=stream_self.tracer,
                distribute=distribute,
                distribute_partitions=sub.options.get("distribute_partitions"),
                # poison-batch bound: failures beyond the cap spill to
                # the retry/DLQ topic dirs executor-side; batch_id keys
                # the spill names so re-runs overwrite, not duplicate
                collect_failure_cap=sub.options.get(
                    "collect_failure_cap", 10_000
                ),
                spill_dirs=(
                    str(stream_self.topic_dir(retry_topic)),
                    str(stream_self.topic_dir(f"{sub.topic}-dlq")),
                ),
                # group-qualified: two groups on one topic share the
                # DLQ dir and have independent batch_id sequences
                job_token=f"{group}-b{batch_id}",
            )

        queries = []
        for src_topic, suffix in ((sub.topic, ""), (retry_topic, "--retry")):
            src = self.stream_topic(
                src_topic,
                sub.schema,
                max_files_per_trigger=sub.options.get("max_files_per_trigger"),
            )
            queries.append(self._start_query(src, process, sub, suffix=suffix))
        return queries

    def _start_window(self, sub: _Subscription):
        opts = sub.options
        spec: WindowSpec = opts["window"]
        ts, key = opts["ts_field"], opts["key_field"]
        src = self.stream_topic(sub.topic, sub.schema).withColumn(
            ts, F.col(ts).cast("timestamp")
        )
        delay_ms = opts["watermark_delay_ms"]
        if delay_ms:
            src = src.withWatermark(ts, f"{delay_ms} milliseconds")
        agged = (
            src.groupBy(F.col(key), spec.column(ts).alias("window"))
            .agg(*[c.alias(n) for n, c in opts["aggs"].items()])
            .select(
                F.col(key),
                F.unix_micros(F.col("window.start")).alias("win_start_us"),
                F.unix_micros(F.col("window.end")).alias("win_end_us"),
                *[F.col(n) for n in opts["aggs"]],
            )
        )
        sink_dir = str(self.topic_dir(opts["sink_topic"]))
        mode = "complete" if not delay_ms else "append"

        def write_agg(batch: DataFrame, batch_id: int) -> None:
            # Distributed write — the aggregate never visits the driver:
            # at 100 TB a user_id x window result is not driver-sized.
            if mode == "complete":
                # complete mode re-emits the full result: distributed
                # overwrite replaces the sink dir atomically per batch.
                batch.write.mode("overwrite").json(sink_dir)
            else:
                # append mode emits each finalized window once; the
                # per-batch_id file names make a retry overwrite its
                # own rows (a plain append would duplicate them)
                _write_batch_jsonl(batch, sink_dir, batch_id)

        agg_q = self._start_query(agged, write_agg, sub, output_mode=mode)
        if not opts.get("late_topic"):
            return agg_q
        return [agg_q, self._start_late_router(sub)]

    def _start_late_router(self, sub: _Subscription):
        """Companion query for Stream.window(late_topic=...): route
        events whose latest relevant window end is behind the
        checkpointed high-watermark to the `-late` topic (reference
        pspf/stream.py:402-413) instead of the agg query's silent
        drop. Stateless except for a tiny watermark record keyed by
        batch_id: classification always uses the watermark as it
        stood BEFORE the batch (Spark's own late-filter semantics),
        and a foreachBatch retry of the same batch_id reads the same
        'before' value, so the late set — and the idempotent
        per-batch_id files it writes — are identical across retries.
        """
        import json as _json

        from python_stream_processing_framework_spark.streaming.windows import (
            SlidingWindow,
            late_cutoff_end_ms,
        )

        opts = sub.options
        spec: WindowSpec = opts["window"]
        ts = opts["ts_field"]
        delay_ms = opts["watermark_delay_ms"]
        src = self.stream_topic(sub.topic, sub.schema).withColumn(
            "_ts_ms", F.unix_millis(F.col(ts).cast("timestamp"))
        )
        late_dir = str(self.topic_dir(opts["late_topic"]))
        wm_path = self.checkpoints / f"{sub.checkpoint}--late-wm.json"

        per_window = bool(opts.get("late_per_window"))

        def late_rows(batch: DataFrame, wm: int) -> DataFrame:
            if not per_window or not isinstance(spec, SlidingWindow):
                # default rule: late iff even the NEWEST containing
                # window has closed (0/1 copies; for tumbling/session
                # per-window and newest-window coincide)
                return batch.filter(
                    late_cutoff_end_ms(spec, F.col("_ts_ms")) < F.lit(wm)
                ).drop("_ts_ms")
            # reference-identical: one copy per CLOSED containing
            # window. Aligned starts s of windows containing ts span
            # (ts - size, ts]; late ones additionally have
            # s + size < wm, i.e. s <= wm - size - 1. Count with two
            # floor-divisions (double division is exact for ms
            # magnitudes; `div` would truncate negatives the wrong way).
            size, slide = spec.size_ms, spec.slide_ms
            hi = F.least(F.col("_ts_ms"), F.lit(wm - size - 1))
            n_late = F.greatest(
                F.lit(0).cast("long"),
                (
                    F.floor(hi / F.lit(float(slide)))
                    - F.floor((F.col("_ts_ms") - size) / F.lit(float(slide)))
                ).cast("long"),
            )
            return (
                batch.withColumn("_n_late", n_late)
                .filter(F.col("_n_late") > 0)
                .withColumn("_i", F.explode(F.expr("sequence(1, _n_late)")))
                .drop("_n_late", "_i", "_ts_ms")
            )

        def route_late(batch: DataFrame, batch_id: int) -> None:
            state = {"bid": -1, "before": 0, "after": 0}
            if wm_path.exists():
                state = _json.loads(wm_path.read_text())
            wm = state["before"] if batch_id == state["bid"] else state["after"]
            batch.persist()
            try:
                if batch.isEmpty():
                    return
                _write_batch_jsonl(late_rows(batch, wm), late_dir, batch_id)
                mx = batch.agg(F.max("_ts_ms").alias("m")).collect()[0]["m"]
                after = max(wm, (mx or 0) - delay_ms)
                tmp = wm_path.with_suffix(".tmp")
                tmp.write_text(
                    _json.dumps({"bid": batch_id, "before": wm, "after": after})
                )
                tmp.rename(wm_path)  # atomic: readers never see a torn record
            finally:
                batch.unpersist()

        return self._start_query(src, route_late, sub, suffix="--late")

    def _start_sessionize(self, sub: _Subscription):
        from python_stream_processing_framework_spark.streaming.sessions import (
            sessionize_stream,
        )

        opts = sub.options
        ts = opts["ts_field"]
        src = self.stream_topic(sub.topic, sub.schema).withColumn(
            ts, F.col(ts).cast("timestamp")
        )
        delay_ms = opts["watermark_delay_ms"]
        grace_ms = opts.get("grace_ms") or None  # 0 = no grace = plain
        sessions = sessionize_stream(
            src,
            opts["key_field"],
            ts,
            opts["gap_ms"],
            opts["fold"],
            opts["init"],
            watermark_delay=f"{delay_ms} milliseconds",
            grace_ms=grace_ms,
        )
        sink_dir = str(self.topic_dir(opts["sink_topic"]))
        late_dir = str(self.topic_dir(opts["late_topic"])) if grace_ms else None
        key = opts["key_field"]

        def write_sessions(batch: DataFrame, batch_id: int) -> None:
            # Distributed + idempotent per batch_id, like the other
            # facade sinks: a foreachBatch retry rewrites its own files.
            # No emptiness check first: on this stateful plan it would
            # run the micro-batch twice, and an empty batch writes no file.
            if grace_ms is None:
                _write_batch_jsonl(batch, sink_dir, batch_id)
                return
            # grace mode: split the kind discriminator — sessions keep
            # the 5-column contract; stragglers land in the -late topic
            # as event payload + attribution metadata columns. Persist
            # like _start_router's split-write: without it the stateful
            # micro-batch plan would re-execute per branch.
            batch.persist()
            try:
                if batch.isEmpty():
                    return
                _write_batch_jsonl(
                    batch.filter(F.col("kind") == "session").select(
                        key,
                        "session_start_ms",
                        "session_end_ms",
                        "n_events",
                        F.col("payload_json").alias("state_json"),
                    ),
                    sink_dir,
                    batch_id,
                )
                _write_batch_jsonl(
                    batch.filter(F.col("kind") == "late").select(
                        key,
                        F.col("ts_ms").alias("_ts_ms"),
                        F.col("session_start_ms").alias("_session_start_ms"),
                        F.col("session_end_ms").alias("_session_end_ms"),
                        F.col("payload_json").alias("_event_json"),
                    ),
                    late_dir,
                    batch_id,
                    tag="-late",
                )
            finally:
                batch.unpersist()

        return self._start_query(sessions, write_sessions, sub, output_mode="append")

    def _start_pipeline(self, sub: _Subscription):
        """Pure map/filter transforms run EXECUTOR-side (Arrow-batched
        `mapInPandas`), never through the driver: at 100 TB a
        driver-side loop over `collect()` is the bottleneck of the
        whole topology. The foreachBatch body only issues the sink
        write — itself a distributed `DataFrameWriter.json`, so records
        flow scan -> python-worker transform -> sink file without ever
        visiting the driver. (Side-effecting `subscribe` handlers keep
        the driver-side contract — that's their semantics, see
        `handle_batch_with_retries`.)"""
        src = self.stream_topic(sub.topic, sub.schema)
        ops = sub.options["ops"]
        target = sub.options["target"]
        out_schema: StructType = sub.options.get("out_schema") or sub.schema
        out_cols = [f.name for f in out_schema.fields]
        allowed = frozenset(out_cols)

        def apply_ops(pdfs):
            import numpy as np  # executor-side
            import pandas as pd

            def to_py(v):
                # Handlers see plain JSON-dict values like the
                # reference's, not pandas artifacts: NaN/NaT -> None,
                # numpy scalars -> Python scalars, arrays -> lists.
                if isinstance(v, np.ndarray):
                    return v.tolist()
                if v is None:
                    return None
                try:
                    if v != v:  # NaN / NaT
                        return None
                except (TypeError, ValueError):
                    pass
                return v.item() if isinstance(v, np.generic) else v

            for pdf in pdfs:
                survivors: list[dict] = []
                for event in pdf.to_dict("records"):
                    event = {k: to_py(v) for k, v in event.items()}
                    for kind, fn in ops:
                        if kind == "map":
                            event = fn(event)
                            if event is None:  # map-to-None drops, short-circuits
                                break
                        else:  # filter
                            if not fn(event):
                                event = None
                                break
                    if event is not None:
                        undeclared = set(event) - allowed
                        if undeclared:
                            raise ValueError(
                                f"pipeline map produced fields {sorted(undeclared)} "
                                f"outside the declared sink schema {sorted(allowed)}; "
                                "declare them via sink(target, output_schema=...)"
                            )
                        survivors.append(event)
                yield pd.DataFrame(survivors, columns=out_cols)

        transformed = src.mapInPandas(apply_ops, out_schema)
        sink_dir = str(self.topic_dir(target))

        def write_sink(batch: DataFrame, batch_id: int) -> None:
            # Distributed, idempotent per batch_id: a foreachBatch
            # retry overwrites its own files instead of appending.
            _write_batch_jsonl(batch, sink_dir, batch_id)

        return self._start_query(transformed, write_sink, sub)

    def _start_route(self, sub: _Subscription):
        """Router fan-out: tag once, write each route's subset
        distributed into its topic dir. The batch is persisted for the
        fan-out (N filtered writes over one cached scan), released
        after."""
        src = self.stream_topic(sub.topic, sub.schema)
        router = sub.options["router"]
        tagged = router.apply(src, "_route")
        targets = router.targets
        sink_dirs = {r: str(self.topic_dir(r)) for r in targets}

        def write_routes(batch: DataFrame, batch_id: int) -> None:
            batch.persist()
            try:
                for r in targets:
                    # idempotent per (batch_id, route): a retried batch
                    # rewrites each route's deterministic files
                    _write_batch_jsonl(
                        batch.filter(F.col("_route") == r).drop("_route"),
                        sink_dirs[r],
                        batch_id,
                        tag=f"-{r}",
                    )
            finally:
                batch.unpersist()

        return self._start_query(tagged, write_routes, sub)

    def _start_dedupe(self, sub: _Subscription):
        """First-occurrence dedup into the target topic. The dedup
        operator itself is Spark's stateful dropDuplicates[WithinWatermark]
        — per-key state in the checkpointed state store, distributed by
        key hash; the foreachBatch body only issues the distributed
        sink write."""
        src = self.stream_topic(sub.topic, sub.schema)
        keys = sub.options["keys"]
        delay = sub.options["watermark_delay_ms"]
        if delay is not None:
            ts = sub.options["ts_field"]
            deduped = (
                src.withColumn("_ts", F.timestamp_seconds(F.col(ts)))
                .withWatermark("_ts", f"{delay} milliseconds")
                .dropDuplicatesWithinWatermark(keys)
                .drop("_ts")
            )
        else:
            deduped = src.dropDuplicates(keys)
        sink_dir = str(self.topic_dir(sub.options["target"]))

        def write_sink(batch: DataFrame, batch_id: int) -> None:
            # idempotent per batch_id — see _write_batch_jsonl
            _write_batch_jsonl(batch, sink_dir, batch_id)

        return self._start_query(deduped, write_sink, sub)

    def _start_dedupe_near(self, sub: _Subscription):
        """Near-dup admission per micro-batch: the foreachBatch body
        runs the batch-incremental index admit (within-batch
        components + cross-index band join — distributed jobs, no
        driver data) and delivers only admitted rows."""
        from python_stream_processing_framework_spark.operators.common import (
            release_caches,
        )
        from python_stream_processing_framework_spark.operators.dedup_index import (
            compact_index,
            minhash_index_admit,
        )

        from python_stream_processing_framework_spark.operators.paragraphs import (
            dedup_paragraphs_near_admit,
        )

        src = self.stream_topic(sub.topic, sub.schema)
        o = sub.options
        sink_dir = str(self.topic_dir(o["target"]))

        def admit_batch(batch: DataFrame, batch_id: int) -> None:
            try:
                if o.get("granularity") == "paragraph":
                    admitted = dedup_paragraphs_near_admit(
                        batch,
                        o["index_path"],
                        str(batch_id),
                        id_col=o["id_field"],
                        text_col=o["text_field"],
                        sep=o["sep"],
                        num_hashes=o["num_hashes"],
                        bands=o["bands"],
                        shingle_k=o["shingle_k"],
                        threshold=o["threshold"],
                        max_band_freq=o["max_band_freq"],
                    )
                else:
                    admitted = minhash_index_admit(
                        batch,
                        o["index_path"],
                        str(batch_id),
                        id_col=o["id_field"],
                        text_col=o["text_field"],
                        num_hashes=o["num_hashes"],
                        bands=o["bands"],
                        shingle_k=o["shingle_k"],
                        threshold=o["threshold"],
                        max_band_freq=o["max_band_freq"],
                    )
                # idempotent per batch_id — see _write_batch_jsonl
                _write_batch_jsonl(admitted, sink_dir, batch_id)
                every = o.get("compact_every")
                if every and batch_id > 0 and batch_id % every == 0:
                    # retain only the CURRENT tag: it is the single
                    # batch a foreachBatch redelivery can retry;
                    # earlier tags are checkpoint-committed forever
                    compact_index(
                        batch.sparkSession,
                        o["index_path"],
                        id_col=o["id_field"],
                        retain_tags=[str(batch_id)],
                    )
            finally:
                release_caches()

        return self._start_query(src, admit_batch, sub)

    def _start_dedupe_semantic(self, sub: _Subscription):
        """Semantic near-dup admission per micro-batch: foreachBatch
        runs the incremental embedding-index admit (one signing pass,
        within-batch components + cross-index band join — distributed
        jobs, bounded driver data) and delivers only admitted rows."""
        from python_stream_processing_framework_spark.operators.common import (
            release_caches,
        )
        from python_stream_processing_framework_spark.operators.dedup_index import (
            compact_index,
        )
        from python_stream_processing_framework_spark.operators.embed_index import (
            embed_index_admit,
        )

        src = self.stream_topic(sub.topic, sub.schema)
        o = sub.options
        sink_dir = str(self.topic_dir(o["target"]))

        def admit_batch(batch: DataFrame, batch_id: int) -> None:
            try:
                admitted = embed_index_admit(
                    batch,
                    o["index_path"],
                    str(batch_id),
                    id_col=o["id_field"],
                    vec_col=o["vec_field"],
                    threshold=o["threshold"],
                    bands=o["bands"],
                    band_bits=o["band_bits"],
                    max_band_freq=o.get("max_band_freq"),
                )
                # idempotent per batch_id — see _write_batch_jsonl
                _write_batch_jsonl(admitted, sink_dir, batch_id)
                every = o.get("compact_every")
                if every and batch_id > 0 and batch_id % every == 0:
                    # retain only the CURRENT tag — the single batch a
                    # foreachBatch redelivery can retry (see dedupe_near)
                    compact_index(
                        batch.sparkSession,
                        o["index_path"],
                        id_col=o["id_field"],
                        retain_tags=[str(batch_id)],
                    )
            finally:
                release_caches()

        return self._start_query(src, admit_batch, sub)

    def run_until_idle(self, *, rounds: int = 1) -> None:
        """Start every registered pipeline against the data currently in
        the broker and block until all of it is processed — the test /
        batch stand-in for `run_forever()`. `rounds` > 1 re-runs to
        drain messages that handlers re-emitted (retries)."""
        for _ in range(max(1, rounds)):
            queries = []
            for sub in self._subscriptions:
                starter = getattr(self, f"_start_{sub.kind}")
                started = self._with_state_width(starter, sub)
                queries.extend(started if isinstance(started, list) else [started])
            for q in queries:
                q.awaitTermination()

    def _with_state_width(self, starter, sub: _Subscription):
        """Start one subscription's queries, applying the opt-in
        `state_partitions` width around START (the only moment Spark
        reads spark.sql.shuffle.partitions for a streaming plan; see
        __init__). No-op when the knob is unset."""
        if self.state_partitions is None:
            return starter(sub)
        prev = self.spark.conf.get("spark.sql.shuffle.partitions")
        self.spark.conf.set(
            "spark.sql.shuffle.partitions", str(self.state_partitions)
        )
        try:
            return starter(sub)
        finally:
            self.spark.conf.set("spark.sql.shuffle.partitions", prev)

    def stop(self) -> None:
        """Graceful shutdown (reference SIGTERM handling finishes the
        current batch, pspf/processor.py:64-96): availableNow triggers
        already stop at a batch boundary; this ends `run_forever`."""
        self._stopped = True

    def run_forever(self, poll_interval_s: float = 1.0) -> None:  # pragma: no cover
        """Continuous mode: availableNow replaced by micro-batch triggers."""
        self._stopped = False
        while not getattr(self, "_stopped", False):
            self.run_until_idle()
            time.sleep(poll_interval_s)


class PipelineBuilder:
    """Ordered op chain; terminal `.sink()` registers it on the Stream."""

    def __init__(self, stream: Stream, topic: str, schema: StructType, group: str | None):
        self._stream = stream
        self._topic = topic
        self._schema = schema
        self._group = group
        self._ops: list[tuple[str, Callable]] = []

    def map(self, fn: Callable[[dict], dict | None]) -> "PipelineBuilder":
        self._ops.append(("map", fn))
        return self

    def filter(self, fn: Callable[[dict], bool]) -> "PipelineBuilder":
        self._ops.append(("filter", fn))
        return self

    def sink(self, target_topic: str, output_schema: StructType | None = None) -> None:
        """Terminal: register the chain. `output_schema` declares the
        shape map() results take (default: the input schema). A
        surviving record carrying a field OUTSIDE the declared output
        schema fails the query loudly instead of being dropped
        silently — the reference's StreamBuilder emitted arbitrary
        dicts (pspf/processing/dsl.py:31-49), so a shape-changing map
        here requires declaring the new shape."""
        self._stream._register(
            "pipeline",
            self._topic,
            self._schema,
            self._group or f"pipe-{self._topic}-{target_topic}",
            ops=list(self._ops),
            target=target_topic,
            out_schema=output_schema,
        )
