"""Reliability semantics: message-granular retry, dead-letter queues,
idempotent sinks — inside Spark's batch-granular execution.

Reference behavior being preserved (SURVEY §2.5):
- R3: on handler error, increment a durable per-message retry count;
  above `max_retries` (default 3) move the message to `{topic}-dlq`
  enriched with `_error`, `_original_stream`, `_original_msg_id`,
  `_moved_timestamp` (pspf/processor.py:349-380,
  pspf/connectors/valkey.py:198-248).
- S6: idempotent sink — skip when the event's token was already
  recorded, write token after a successful side effect
  (pspf/connectors/base.py:32-78).

Spark mapping: Spark retries whole tasks, not messages, so message-
granular retry lives in `foreachBatch`: failed messages are re-emitted
to the source topic with `_attempt + 1` (durable — it's in the topic
log itself, the same trick as the reference's retry-count hash), and
messages arriving with `_attempt >= max_retries` divert to the DLQ.
Successful messages carry their `event_id`, so the idempotent sink
suppresses duplicate side effects across retries and restarts.
"""

from __future__ import annotations

import inspect
import logging
import time
import uuid
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame

from python_stream_processing_framework_spark.streaming.context import Context

#: Reliability-event log (pair with telemetry.configure_json_logging
#: for the reference's structured JSON stream). Logged with extras,
#: never message-interpolated payloads — events themselves stay in
#: the topic files.
logger = logging.getLogger("pspf_spark.reliability")


def _positional_arity(fn: Callable) -> int:
    """Number of positional parameters ``fn`` declares."""
    return sum(
        p.kind
        in (inspect.Parameter.POSITIONAL_ONLY, inspect.Parameter.POSITIONAL_OR_KEYWORD)
        for p in inspect.signature(fn).parameters.values()
    )


def _arity_call(handler: Callable, ctx: Context | None):
    """Arity-sniffed dispatch (reference pspf/stream.py:286-323):
    `(event)` | `(msg_id, data)` | `(msg_id, data, ctx)`."""
    n = _positional_arity(handler)
    if n >= 3:
        return lambda ev: handler(ev.get("event_id"), ev, ctx)
    if n == 2:
        return lambda ev: handler(ev.get("event_id"), ev)
    return handler


def handle_batch_with_retries(
    batch: DataFrame,
    *,
    handler: Callable[[dict], None],
    topic: str,
    max_retries: int,
    emit: Callable[..., list[str]],
    ctx: Context | None = None,
    retry_topic: str | None = None,
    tracer=None,
    distribute: bool = False,
    distribute_partitions: int | None = None,
    collect_failure_cap: int = 10_000,
    spill_dirs: tuple[str, str] | None = None,
    job_token: str | None = None,
) -> None:
    """Run the handler per message with reference retry/DLQ flow.

    Two execution modes:

    - Default (driver-serial): handlers run in one driver loop under
      the group lock — the reference's exact semantics (handlers are
      arbitrary side-effecting Python sharing a state transaction,
      pspf/processor.py:311-328). Throughput is driver-bound; the
      parity mode, not the scale mode.
    - ``distribute=True``: handlers run executor-side via
      mapPartitions — N partitions execute in parallel across the
      cluster, and only FAILURES (tiny) return to the driver, which
      owns all retry/DLQ emission so delivery bookkeeping stays
      single-writer. Requires handlers that are (a) picklable, (b)
      ctx-free (durable group state is driver-owned), and (c)
      idempotent per message — a Spark task retry re-runs its
      partition's handlers, giving at-least-once side effects,
      upgraded to effectively-once by event-id tokens (IdempotentSink)
      exactly as the reference upgrades its at-least-once delivery.
      No cross-message ordering is guaranteed (the reference only
      orders within a partition anyway).

    Retries are re-emitted to `retry_topic` (the consumer group's
    PRIVATE sibling topic, read only by this group) — the reference
    keeps retried messages in the group's PEL, invisible to other
    consumer groups, and re-emitting to the shared topic would
    duplicate them for every other subscriber.

    Poison-batch bound (distribute mode): failure-only driver traffic
    is the design, but a batch where ~100% of rows fail would
    otherwise degenerate to a full collect. With ``spill_dirs``
    (retry_dir, dlq_dir) set, each partition returns at most
    ``collect_failure_cap // n_partitions`` failures to the driver and
    routes the overflow ITSELF — the same attempt-count rule, the same
    `_error`/`_original_stream`/`_original_msg_id`/`_moved_timestamp`
    metadata — writing one JSON-lines file per (job, partition) into
    the retry/DLQ topic dirs with emit's write-then-rename visibility.
    ``job_token`` (the facade passes the batch_id) makes the spill
    file names deterministic, so a task retry or a foreachBatch re-run
    overwrites its own spill instead of duplicating it. Spilled
    records bypass the driver entirely (no tracer re-inject — they
    keep whatever `traceparent` they already carry). Without
    ``spill_dirs`` the full-collect contract is unchanged.
    """
    import contextlib

    retries: list[dict] = []
    dead: list[dict] = []

    def route_failure(event: dict, err: str) -> None:
        attempt = int(event.get("_attempt") or 0)
        if attempt + 1 > max_retries:
            dead.append(
                {
                    **event,
                    "_error": err,
                    "_original_stream": topic,
                    "_original_msg_id": event.get("event_id"),
                    "_moved_timestamp": time.time(),
                }
            )
        else:
            retries.append({**event, "_attempt": attempt + 1})

    if distribute:
        call = _arity_call(handler, None)  # ctx is driver-owned
        # small topic files bin-pack into ONE scan partition
        # (maxPartitionBytes), which would serialize the handlers
        # anyway — distribute_partitions forces real fan-out (one
        # shuffle of the micro-batch, usually tiny next to handler
        # side-effect latency, the reason to distribute at all)
        if distribute_partitions:
            batch = batch.repartition(distribute_partitions)

        rdd = batch.rdd
        cap_per_part = max(
            1, collect_failure_cap // max(1, rdd.getNumPartitions())
        )
        spill = spill_dirs
        token = job_token or uuid.uuid4().hex[:12]
        _topic, _max_retries = topic, max_retries

        def run_partition(idx, rows_iter):
            import json as _json
            import os as _os
            import time as _time
            import uuid as _uuid

            failures = []
            for row in rows_iter:
                event = row.asDict(recursive=True)
                try:
                    call(event)
                except Exception as exc:  # noqa: BLE001 — route to retry/DLQ
                    failures.append({**event, "_handler_error": str(exc)})
            head, overflow = failures[:cap_per_part], failures[cap_per_part:]
            if overflow and spill is not None:
                retry_dir, dlq_dir = spill
                retries_l, dead_l = [], []
                for f in overflow:
                    err = f.pop("_handler_error")
                    attempt = int(f.get("_attempt") or 0)
                    if attempt + 1 > _max_retries:
                        dead_l.append(
                            {
                                **f,
                                "_error": err,
                                "_original_stream": _topic,
                                "_original_msg_id": f.get("event_id"),
                                "_moved_timestamp": _time.time(),
                            }
                        )
                    else:
                        retries_l.append({**f, "_attempt": attempt + 1})
                for rows_l, d in ((retries_l, retry_dir), (dead_l, dlq_dir)):
                    if not rows_l:
                        continue
                    # deterministic FINAL name per (job, partition):
                    # retries/re-runs overwrite via rename; tmp name
                    # unique per attempt (see _replay_distributed)
                    _os.makedirs(d, exist_ok=True)
                    name = f"spill-{token}-p{idx:05d}"
                    tmp = _os.path.join(
                        d, f".{name}.{_uuid.uuid4().hex[:8]}.tmp"
                    )
                    with open(tmp, "w") as out:
                        for r in rows_l:
                            out.write(_json.dumps(r, default=str) + "\n")
                    _os.rename(tmp, _os.path.join(d, name + ".json"))
            elif overflow:
                head = failures  # no spill target: full-collect contract
            yield from head

        # executors run every handler; only capped failures travel back
        for failed in rdd.mapPartitionsWithIndex(run_partition).collect():
            err = failed.pop("_handler_error")
            route_failure(failed, err)
    else:
        rows = [r.asDict(recursive=True) for r in batch.collect()]
        call = _arity_call(handler, ctx)
        # same-group handlers serialize (reference runs handlers inside
        # a state transaction, pspf/processor.py:311-328)
        guard = ctx.lock if ctx is not None else contextlib.nullcontext()
        for event in rows:
            # run the handler inside the message's extracted trace
            # span, so emits from the handler continue the trace
            # (reference pspf/telemetry.py:114-118 extracts per message)
            span = (
                tracer.span_from(event)
                if tracer is not None
                else contextlib.nullcontext()
            )
            try:
                with guard, span:
                    call(event)
            except Exception as exc:  # noqa: BLE001 — any handler error retries
                route_failure(event, str(exc))
    if retries:
        emit(retry_topic or topic, *retries)
        logger.info(
            "retrying failed messages",
            extra={"topic": topic, "n_retried": len(retries)},
        )
    if dead:
        emit(f"{topic}-dlq", *dead)
        logger.warning(
            "moved messages to DLQ",
            extra={"topic": topic, "n_dead": len(dead)},
        )


# The metadata the DLQ path itself attaches — the ONLY keys replay may
# strip. User event fields that merely start with `_` (or are None) are
# the user's data and must round-trip untouched.
DLQ_METADATA_KEYS = frozenset(
    {"_error", "_original_stream", "_original_msg_id", "_moved_timestamp", "_attempt"}
)


def replay_dead_letters(
    stream,
    topic: str,
    *,
    schema,
    purge: bool = True,
    distributed: bool | None = None,
    distributed_threshold_bytes: int = 32 << 20,
) -> int:
    """DLQ replay (reference CLI `replay`, pspf/cli.py:139-228 /
    pspf/utils/replay.py:12-51): strip the DLQ-attached metadata
    (`DLQ_METADATA_KEYS` — not the whole `_` namespace) and re-emit to
    the original topic.

    Execution: small DLQs replay through the driver (collect + one
    `stream.emit` call — human-scale incident recovery, exact
    reference parity). Above ``distributed_threshold_bytes`` (or with
    ``distributed=True``) the replay never materializes messages on
    the driver: each partition of the DLQ frame strips the metadata
    COLUMNS and writes its rows as one JSON-lines file directly into
    the target topic dir, using the same write-then-rename visibility
    protocol as `Stream.emit`, so a multi-million-row incident DLQ —
    the one place this tool gets used under pressure — replays at
    cluster width with only per-partition counts returning to the
    driver. A Spark task retry can re-write its partition's file
    (at-least-once, like the reference CLI's message-at-a-time loop
    after a crash); downstream IdempotentSink event-id tokens upgrade
    that to effectively-once, which is the engine's standard contract.
    """
    dlq_topic = f"{topic}-dlq"
    # snapshot the file list BEFORE reading so the purge removes exactly
    # what was replayed — a message dead-lettered mid-replay survives.
    files = sorted(Path(stream.topic_dir(dlq_topic)).glob("*.json"))
    if not files:
        return 0
    df = stream.spark.read.schema(schema).json([str(f) for f in files])
    if distributed is None:
        distributed = (
            sum(f.stat().st_size for f in files) > distributed_threshold_bytes
        )
    if distributed:
        n = _replay_distributed(df, str(stream.topic_dir(topic)))
    else:
        rows = [r.asDict(recursive=True) for r in df.collect()]
        clean = [
            {k: v for k, v in r.items() if k not in DLQ_METADATA_KEYS}
            for r in rows
        ]
        if clean:
            stream.emit(topic, *clean)
        n = len(clean)
    if purge:
        for f in files:
            f.unlink()
    logger.info(
        "replayed dead letters",
        extra={
            "topic": topic,
            "n_replayed": n,
            "distributed": bool(distributed),
            "purged": bool(purge),
        },
    )
    return n


def _replay_distributed(df: DataFrame, target_dir: str) -> int:
    """Executor-side DLQ re-emission: drop the DLQ metadata columns,
    write one JSON-lines file per non-empty partition into the topic
    dir with `Stream.emit`'s atomic write-then-rename, return only the
    summed row count to the driver. File names are DETERMINISTIC
    WITHIN one replay job — a per-invocation token chosen once on the
    driver plus the partition index — so a task retry or speculative
    duplicate attempt overwrites its own file via rename instead of
    delivering the partition twice (the `_write_batch_jsonl`
    idempotency contract), while two successive replay invocations
    never collide. Requires the broker dir to be a shared filesystem
    — the file broker's standing assumption."""
    import uuid as _uuid

    clean = df.drop(*[c for c in df.columns if c in DLQ_METADATA_KEYS])
    job_token = _uuid.uuid4().hex[:12]  # driver-side: stable across task retries

    def write_partition(idx, rows_iter):
        import json as _json
        import os
        import uuid as _uuid2

        # FINAL name deterministic per (job, partition) — a retry's
        # rename atomically replaces the prior attempt's file, never
        # appends. TMP name unique PER ATTEMPT: concurrent attempts
        # (speculation, zombie task) must not share an inode, or
        # their writes interleave and one's rename publishes the
        # other's half-written data.
        name = f"replay-{job_token}-p{idx:05d}"
        tmp_path = os.path.join(
            target_dir, f".{name}.{_uuid2.uuid4().hex[:8]}.tmp"
        )
        n = 0
        out = None
        for row in rows_iter:
            if out is None:
                out = open(tmp_path, "w")
            out.write(_json.dumps(row.asDict(recursive=True), default=str) + "\n")
            n += 1
        if out is not None:
            out.close()
            os.rename(tmp_path, os.path.join(target_dir, name + ".json"))
        yield n

    return sum(clean.rdd.mapPartitionsWithIndex(write_partition).collect())


class IdempotentSink:
    """Exactly-once side effects via durable per-event tokens
    (reference BaseSink, pspf/connectors/base.py:32-78).

    `write(event)` checks `{name}:{event_id}`; if unseen, calls
    `on_write(event, token)` then records the token. Token storage is a
    JSON-lines dir — swap for a KV/Delta table in production; the
    contract (check -> effect -> record) is the semantics.
    """

    def __init__(self, name: str, token_dir: str):
        self.name = name
        self.dir = Path(token_dir)
        self.dir.mkdir(parents=True, exist_ok=True)
        self._tokens: set[str] | None = None

    def _load(self) -> set[str]:
        if self._tokens is None:
            toks = set()
            for f in self.dir.glob("tokens-*.jsonl"):
                toks.update(f.read_text().splitlines())
            self._tokens = toks
        return self._tokens

    def token(self, event: dict) -> str:
        return f"{self.name}:{event['event_id']}"

    def write(self, event: dict) -> bool:
        """Returns True if the side effect ran, False if deduplicated."""
        tok = self.token(event)
        seen = self._load()
        if tok in seen:
            return False
        self.on_write(event, tok)
        seen.add(tok)
        with open(self.dir / "tokens-0.jsonl", "a") as f:
            f.write(tok + "\n")
        return True

    def on_write(self, event: dict, token: str) -> None:  # pragma: no cover
        raise NotImplementedError
