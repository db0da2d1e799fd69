"""Elasticsearch sink protocol, EXECUTED: in-process bulk-API server +
executor-side bulk client.

The reference declares Elasticsearch as the enriched-documents sink
(README.md:48,77; values.yaml:85-90) but ships no consumer code. This
module executes the WIRE PROTOCOL the declared sink would speak — the
public Elasticsearch Bulk API:

- ``POST /{index}/_bulk`` with NDJSON action/metadata + source lines
  (``index`` and ``delete`` actions);
- optimistic concurrency via ``version_type: external_gte`` — the
  producer stamps each operation with the event's own order key as the
  version, the server keeps the highest-versioned write per ``_id``
  and answers 409 ``version_conflict_engine_exception`` items for
  stale ones. This is the PUBLIC ES recipe for CDC consumers: the
  result is independent of delivery order and redelivery count
  (at-least-once + reordering safe) because ordering is data, not
  arrival time.
- ``GET /{index}/_search`` / ``GET /{index}/_count`` for readback.

Same realization strategy as sources/schema_registry.py: a real HTTP
server on 127.0.0.1 (local_server.py) driven from Spark executors via
stdlib urllib — no third-party client, nothing to install, and in
production the URL simply points at the deployed cluster.

At 100 TB the sink path is per-partition bulk POSTs (executor-side,
driver never sees data); the readback endpoints are key-cardinality
bounded and exist for the test/driver gate only — production readers
query ES directly.
"""

from __future__ import annotations

import json
import threading
import urllib.request

from .local_server import LocalHandler, LocalServer

TOMBSTONE = object()  # deleted-doc marker retaining its version


class _EsState:
    def __init__(self) -> None:
        self.lock = threading.Lock()
        # index -> _id -> (version, source | TOMBSTONE)
        self.indices: dict[str, dict[str, tuple[int, object]]] = {}

    def apply(self, index: str, action: str, _id: str, version: int, source):
        """One bulk item under external_gte semantics. Returns the
        per-item (status, error-or-None) the bulk response reports."""
        with self.lock:
            return self._apply_locked(index, action, _id, version, source)

    def _apply_locked(self, index: str, action: str, _id: str, version: int, source):
        docs = self.indices.setdefault(index, {})
        cur = docs.get(_id)
        if cur is not None and version < cur[0]:
            return 409, "version_conflict_engine_exception"
        if action == "index":
            docs[_id] = (version, source)
            return (200 if cur is not None else 201), None
        docs[_id] = (version, TOMBSTONE)
        return (200 if cur is not None and cur[1] is not TOMBSTONE else 404), None

    def apply_bulk(self, ops) -> list:
        """Apply a whole bulk request under ONE lock acquisition.
        Per-item locking convoyed badly under concurrent bulk POSTs
        (8 posting partitions x thousands of items = millions of
        acquire/release GIL handoffs — measured 3x slower than a
        single-threaded client at sf1); one-lock-per-request is also
        what a real node does per shard batch."""
        with self.lock:
            return [self._apply_locked(*op) for op in ops]

    def live_docs(self, index: str) -> dict[str, tuple[int, dict]]:
        with self.lock:
            return {
                k: (v, s)
                for k, (v, s) in self.indices.get(index, {}).items()
                if s is not TOMBSTONE
            }


def _handler(state: _EsState):
    class Handler(LocalHandler):
        protocol_version = "HTTP/1.1"

        def do_POST(self) -> None:
            parts = [p for p in self.path.split("?")[0].split("/") if p]
            body = self.read_body().decode()
            if parts and parts[-1] == "_bulk":
                default_index = parts[0] if len(parts) == 2 else None
                self._bulk(default_index, body)
            elif len(parts) == 2 and parts[1] == "_refresh":
                self.reply(200, {"_shards": {"successful": 1}})
            else:
                self.reply(400, {"error": "unsupported endpoint"})

        def _bulk(self, default_index: str | None, body: str) -> None:
            lines = [ln for ln in body.split("\n") if ln.strip()]
            ops, actions, i = [], [], 0
            while i < len(lines):
                meta = json.loads(lines[i])
                action = next(iter(meta))
                m = meta[action]
                index = m.get("_index", default_index)
                _id = str(m["_id"])
                version = int(m.get("version", 0))
                source = None
                i += 1
                if action == "index":
                    source = json.loads(lines[i])
                    i += 1
                ops.append((index, action, _id, version, source))
                actions.append(action)
            results = state.apply_bulk(ops)
            items = []
            for (index, action, _id, _, _), (status, err) in zip(ops, results):
                item = {"_index": index, "_id": _id, "status": status}
                if err:
                    item["error"] = {"type": err}
                items.append({action: item})
            self.reply(
                200,
                {"took": 1, "errors": any("error" in v for d in items for v in d.values()), "items": items},
            )

        def do_GET(self) -> None:
            path, _, query = self.path.partition("?")
            parts = [p for p in path.split("/") if p]
            if len(parts) == 2 and parts[1] == "_count":
                self.reply(200, {"count": len(state.live_docs(parts[0]))})
            elif len(parts) == 2 and parts[1] == "_search":
                size = 10
                for kv in query.split("&"):
                    if kv.startswith("size="):
                        size = int(kv[5:])
                docs = state.live_docs(parts[0])
                hits = [
                    {"_index": parts[0], "_id": k, "_version": v, "_source": s}
                    for k, (v, s) in sorted(docs.items())[:size]
                ]
                self.reply(
                    200,
                    {"hits": {"total": {"value": len(docs)}, "hits": hits}},
                )
            else:
                self.reply(400, {"error": "unsupported endpoint"})

    return Handler


class EsBulkServer(LocalServer):
    """In-process server speaking the Bulk-API subset above.

    >>> with EsBulkServer() as srv:
    ...     EsBulkSink(srv.url, "events")
    """

    def __init__(self) -> None:
        super().__init__(_handler(_EsState()))


def post_bulk(url: str, index: str, ndjson: str) -> dict:
    """One bulk POST; returns the parsed response. Executor-safe."""
    req = urllib.request.Request(
        f"{url}/{index}/_bulk",
        data=ndjson.encode(),
        method="POST",
        headers={"Content-Type": "application/x-ndjson"},
    )
    with urllib.request.urlopen(req, timeout=30) as resp:
        return json.loads(resp.read())


def search_all(url: str, index: str, size: int = 1_000_000) -> list[dict]:
    """Readback for the test/driver gate (key-cardinality bounded)."""
    with urllib.request.urlopen(
        f"{url}/{index}/_search?size={size}", timeout=30
    ) as resp:
        return json.loads(resp.read())["hits"]["hits"]


class EsBulkSink:
    """foreachBatch / batch sink POSTing CDC rows as versioned bulk ops.

    Each input row becomes one bulk item: op 'd' -> ``delete``, else
    ``index``; ``_id`` is the key column, ``version`` the event-order
    column under ``external_gte``. Because ordering rides IN the
    operations, the landed state equals batch latest-state no matter
    how rows are partitioned, batched, reordered, or redelivered —
    the same guarantee DeltaUpsertSink gets from retained tombstones,
    here enforced by the store's own concurrency control.

    The POST happens per partition ON THE EXECUTORS (mapInPandas over
    NDJSON chunks); the driver only triggers the job. Picklable state:
    url/index/column names only.
    """

    def __init__(
        self,
        url: str,
        index: str,
        key_col: str = "pk",
        version_col: str = "ts_us",
        op_col: str = "op",
        batch_rows: int = 2000,
    ) -> None:
        self.url = url
        self.index = index
        self.key_col = key_col
        self.version_col = version_col
        self.op_col = op_col
        self.batch_rows = batch_rows

    def __call__(self, batch, batch_id: int | None = None) -> None:
        url, index = self.url, self.index
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
                # Metadata lines vectorized (pure string concat over
                # whole columns); source lines stay per-row json.dumps
                # for exact double round-trip (pandas to_json caps at
                # 15 significant digits — enough to drift 1 ulp and
                # break value-exact readback).
                ids = pdf[key_col].astype(str)
                # Keys are usually digit/word-safe, so the vectorized
                # concat below skips json escaping — but a quote,
                # backslash, or control char in a key would emit
                # malformed NDJSON and fail the whole partition POST.
                # Escape only the rows a fast vectorized regex flags.
                unsafe = ids.str.contains(r'["\\\x00-\x1f]', regex=True)
                if unsafe.any():
                    ids = ids.mask(
                        unsafe, ids[unsafe].map(lambda s: json.dumps(s)[1:-1])
                    )
                vers = pdf[ver_col].astype("int64").astype(str)
                metas = (
                    '{"_id":"' + ids + '","version":' + vers
                    + ',"version_type":"external_gte"}'
                ).tolist()
                is_del = (pdf[op_col] == "d").tolist()
                # Series.tolist() converts numpy scalars to Python
                # natives, so json.dumps round-trips doubles exactly
                src_cols = [*value_cols, ver_col]
                col_vals = [pdf[c].tolist() for c in value_cols]
                col_vals.append(pdf[ver_col].astype("int64").tolist())
                src_records = [
                    dict(zip(src_cols, vals)) for vals in zip(*col_vals)
                ]
                lines = []
                for m, dele, src in zip(metas, is_del, src_records):
                    if dele:
                        lines.append('{"delete":' + m + "}")
                    else:
                        lines.append('{"index":' + m + "}")
                        lines.append(json.dumps(src))
                    if len(lines) >= max_rows:
                        post_bulk(url, index, "\n".join(lines) + "\n")
                        lines = []
                if lines:
                    post_bulk(url, index, "\n".join(lines) + "\n")
                yield pd.DataFrame({"n": [len(pdf)]})

        cols = [key_col, ver_col, op_col, *value_cols]
        # noop-materialize the mapInPandas plan: POSTs run executor-side
        batch.select(*cols).mapInPandas(send, "n long").write.format(
            "noop"
        ).mode("overwrite").save()
