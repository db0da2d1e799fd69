"""Generic HTTP webhook fan-out sink, EXECUTED: in-process signed
webhook consumer + executor-side batching client with retry.

The reference's declared sink set fans CDC topics out to downstream
HTTP consumers (the Kafka Connect HTTP-sink shape). This module
executes the public webhook recipe end-to-end:

- **Batched NDJSON POSTs** from the EXECUTORS (one request per ~2k
  rows per partition), each line one CDC operation
  ``{"key","ver","op","data"}``.
- **HMAC-SHA256 request signing** (``X-Webhook-Signature:
  sha256=<hexdigest>`` over the exact body bytes with a shared
  secret) — the standard webhook authenticity scheme (GitHub/Stripe
  style); the consumer rejects unsigned or tampered requests with 401
  WITHOUT applying anything.
- **At-least-once delivery with apply-then-crash**: the consumer
  APPLIES the first attempt of every request and then answers 503
  before acking (the crash-after-commit window every real webhook
  pipeline has). The producer retries until 2xx, so every batch is
  delivered twice — and the landed state must still be exact because
  application is **version-gated per key** (apply iff
  ``ver >= current``): ordering and idempotence ride in the data, the
  same external_gte recipe as the ES sink, so scrambled partitioning,
  redelivery, and retries all land the identical state.
- ``GET /state`` readback for the test/driver gate only
  (key-cardinality bounded; production consumers own their store).

Same in-process realization strategy as sinks_es.py: a real HTTP
server on 127.0.0.1 (local_server.py) driven from executors via stdlib
urllib — in production the URL points at the real consumer.

At 100 TB the sink path is per-partition POSTs, driver never sees
data; wall cost is wire-bound and embarrassingly parallel across
partitions. The retry loop is per-request with bounded attempts, so a
flapping consumer degrades throughput linearly, never correctness.
"""

from __future__ import annotations

import hashlib
import hmac
import json
import threading
import time
import urllib.error
import urllib.request

from .local_server import LocalHandler, LocalServer

TOMBSTONE = object()  # deleted-key marker retaining its version

DEFAULT_SECRET = "cdc-webhook-secret"


def sign(body: bytes, secret: str) -> str:
    return "sha256=" + hmac.new(secret.encode(), body, hashlib.sha256).hexdigest()


class _WebhookState:
    def __init__(self, secret: str) -> None:
        self.secret = secret
        self.lock = threading.Lock()
        self.store: dict[str, tuple[int, object]] = {}
        self.seen_digests: set[str] = set()
        # protocol counters for the conformance tests
        self.requests = 0
        self.crashed_acks = 0  # 503s after apply (first attempts)
        self.rejected_auth = 0
        self.applied = 0
        self.stale_rejected = 0

    def apply_request(self, body: bytes, signature: str | None):
        """Returns (http_status, response_dict). Application and the
        crash decision happen under ONE lock (the per-request batch
        apply the ES sink measured as necessary under concurrency)."""
        if signature != sign(body, self.secret):
            with self.lock:
                self.rejected_auth += 1
            return 401, {"error": "invalid signature"}
        ops = [json.loads(line) for line in body.decode().splitlines() if line]
        digest = hashlib.md5(body).hexdigest()
        with self.lock:
            self.requests += 1
            applied = stale = 0
            for op in ops:
                key, ver = str(op["key"]), int(op["ver"])
                cur = self.store.get(key)
                if cur is not None and ver < cur[0]:
                    stale += 1
                    continue
                self.store[key] = (
                    ver,
                    TOMBSTONE if op.get("op") == "d" else op.get("data"),
                )
                applied += 1
            self.applied += applied
            self.stale_rejected += stale
            first = digest not in self.seen_digests
            self.seen_digests.add(digest)
            if first:
                # apply-then-crash: state IS committed, ack is lost
                self.crashed_acks += 1
                return 503, {"error": "crashed before ack (retry)"}
        return 200, {"applied": applied, "stale": stale}

    def live(self) -> dict[str, tuple[int, dict]]:
        with self.lock:
            return {
                k: (v, d) for k, (v, d) in self.store.items() if d is not TOMBSTONE
            }

    def stats(self) -> dict:
        with self.lock:
            return {
                "requests": self.requests,
                "crashed_acks": self.crashed_acks,
                "rejected_auth": self.rejected_auth,
                "applied": self.applied,
                "stale_rejected": self.stale_rejected,
                "keys": len(self.store),
            }


def _handler(state: _WebhookState):
    class Handler(LocalHandler):
        def do_POST(self):
            if self.path != "/webhook":
                self.reply(404, {"error": "unknown endpoint"})
                return
            status, payload = state.apply_request(
                self.read_body(), self.headers.get("X-Webhook-Signature")
            )
            self.reply(status, payload)

        def do_GET(self):
            if self.path.startswith("/state"):
                live = state.live()
                rows = [
                    {"key": k, "ver": v, "data": d}
                    for k, (v, d) in sorted(live.items())
                ]
                self.reply(200, {"total": len(rows), "rows": rows})
            elif self.path.startswith("/stats"):
                self.reply(200, state.stats())
            else:
                self.reply(404, {"error": "unknown endpoint"})

    return Handler


class WebhookServer(LocalServer):
    """In-process signed-webhook consumer.

    The consumer applies and then 503s the FIRST attempt of every
    distinct request body — the deterministic
    apply-then-crash-before-ack window, forcing the producer through
    its retry path on every batch.
    """

    def __init__(self, secret: str = DEFAULT_SECRET) -> None:
        self._state = _WebhookState(secret)
        self.secret = secret
        super().__init__(_handler(self._state))

    def stats(self) -> dict:
        return self._state.stats()


def post_signed(
    url: str, body: bytes, secret: str, max_attempts: int = 5
) -> dict:
    """One signed webhook POST with bounded retry on 5xx/connection
    errors (the HTTP-sink connector's retry loop). Executor-safe.
    Raises after max_attempts — a persistently failing consumer must
    fail the job loudly, never drop data."""
    headers = {
        "Content-Type": "application/x-ndjson",
        "X-Webhook-Signature": sign(body, secret),
    }
    last: Exception | None = None
    for attempt in range(max_attempts):
        req = urllib.request.Request(
            f"{url}/webhook", data=body, method="POST", headers=headers
        )
        try:
            with urllib.request.urlopen(req, timeout=30) as resp:
                return json.loads(resp.read())
        except urllib.error.HTTPError as e:
            if e.code in (401, 404):  # not retryable: a client bug
                raise
            last = e
        except urllib.error.URLError as e:
            last = e
        time.sleep(0.05 * (attempt + 1))
    raise RuntimeError(f"webhook POST failed after {max_attempts} attempts: {last}")


def read_state(url: str) -> list[dict]:
    """Readback for the test/driver gate (key-cardinality bounded)."""
    with urllib.request.urlopen(f"{url}/state", timeout=30) as resp:
        return json.loads(resp.read())["rows"]


class WebhookFanoutSink:
    """Batch/foreachBatch sink POSTing CDC rows as signed NDJSON
    webhook batches from the executors.

    Each input row becomes one line ``{"key","ver","op","data"}``;
    ``data`` carries every column that is not key/ver/op. Version-gated
    application at the consumer makes the landed state independent of
    partitioning, batching, delivery order, retries, and redelivery —
    the contract the oracle checks. Picklable state: url/secret/column
    names only (the mapInPandas closure never captures a server
    object).
    """

    def __init__(
        self,
        url: str,
        secret: str = DEFAULT_SECRET,
        key_col: str = "pk",
        version_col: str = "ver",
        op_col: str = "op",
        batch_rows: int = 2000,
    ) -> None:
        self.url = url
        self.secret = secret
        self.key_col = key_col
        self.version_col = version_col
        self.op_col = op_col
        self.batch_rows = batch_rows

    def __call__(self, batch, batch_id: int | None = None) -> None:
        url, secret = self.url, self.secret
        key_col, ver_col, op_col = self.key_col, self.version_col, self.op_col
        max_rows = self.batch_rows
        value_cols = [
            c for c in batch.columns if c not in (key_col, ver_col, op_col)
        ]

        def send(iterator):
            import pandas as pd

            for pdf in iterator:
                if not len(pdf):
                    yield pd.DataFrame({"n": [0]})
                    continue
                keys = pdf[key_col].astype(str).tolist()
                vers = pdf[ver_col].astype("int64").tolist()
                ops = pdf[op_col].tolist()
                # tolist() yields Python natives, so json.dumps
                # round-trips doubles exactly (same rationale as
                # sinks_es — pandas to_json caps at 15 sig digits)
                col_vals = [pdf[c].tolist() for c in value_cols]
                lines: list[str] = []
                for i, (k, v, op) in enumerate(zip(keys, vers, ops)):
                    rec = {
                        "key": k,
                        "ver": v,
                        "op": op,
                        "data": {c: col_vals[j][i] for j, c in enumerate(value_cols)},
                    }
                    lines.append(json.dumps(rec))
                    if len(lines) >= max_rows:
                        post_signed(url, ("\n".join(lines) + "\n").encode(), secret)
                        lines = []
                if lines:
                    post_signed(url, ("\n".join(lines) + "\n").encode(), secret)
                yield pd.DataFrame({"n": [len(pdf)]})

        cols = [key_col, ver_col, op_col, *value_cols]
        # noop-materialize the mapInPandas plan: POSTs run executor-side
        batch.select(*cols).mapInPandas(send, "n long").write.format(
            "noop"
        ).mode("overwrite").save()
