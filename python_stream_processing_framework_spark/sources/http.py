"""HTTP sink — parity with the reference's idempotent webhook sink
(pspf/connectors/http.py:10-49): POST the event as JSON with an
`X-Idempotency-Key` header (the sink token), raise on non-2xx so the
failure feeds the retry/DLQ path.

Driver-side (stdlib urllib) for facade handlers.
"""

from __future__ import annotations

import json
import urllib.request

from python_stream_processing_framework_spark.streaming.dlq import IdempotentSink


class HttpSink(IdempotentSink):
    """Idempotent JSON POST per event."""

    def __init__(self, name: str, token_dir: str, url: str, timeout_s: float = 10.0):
        super().__init__(name, token_dir)
        self.url = url
        self.timeout_s = timeout_s

    def on_write(self, event: dict, token: str) -> None:
        req = urllib.request.Request(
            self.url,
            data=json.dumps(event, default=str).encode(),
            headers={
                "Content-Type": "application/json",
                "X-Idempotency-Key": token,
            },
            method="POST",
        )
        with urllib.request.urlopen(req, timeout=self.timeout_s) as resp:
            if resp.status >= 300:
                raise RuntimeError(f"HTTP sink {resp.status} for {token}")
