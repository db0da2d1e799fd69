"""ClickHouse sink protocol, EXECUTED: in-process HTTP-interface server
+ executor-side JSONEachRow insert client.

The reference declares ClickHouse as the analytical sink
(README.md:50; values.yaml:91-94) with no consumer code. This module
executes the PUBLIC ClickHouse HTTP interface subset a CDC consumer
uses, with the public ReplacingMergeTree recipe for CDC:

- ``POST /?query=CREATE TABLE t (...) ENGINE = ReplacingMergeTree(ver
  [, is_deleted]) ORDER BY key`` — minimal DDL parse: column list,
  version column, optional is_deleted column (the 23.x soft-delete
  parameter), ORDER BY key;
- ``POST /?query=INSERT INTO t FORMAT JSONEachRow`` with NDJSON rows —
  each POST lands as an immutable PART (append-only, exactly
  MergeTree's write path; inserts never read or merge);
- ``GET /?query=SELECT * FROM t FINAL FORMAT JSON`` — FINAL collapses
  parts at read: one row per ORDER BY key, the highest (version,
  insert-sequence) wins, and the winner is DROPPED when its
  is_deleted = 1 (soft-delete collapse).

Because every row carries its event-order key as the version, the
collapsed result is independent of insert order, partitioning, and
redelivery — at-least-once duplicates are literal duplicate (key,
version) rows that FINAL collapses away. Same in-process-server
strategy as the registry and ES bulk protocols: stdlib HTTP on
127.0.0.1 (local_server.py), executors speak it via urllib, production
swaps the URL.

At 100 TB the write path is per-partition streaming inserts of
immutable parts (no read-modify-write anywhere, the reason MergeTree
ingests at disk speed); FINAL readback here is the test/driver gate —
production queries push the collapse into CH itself the same way.
"""

from __future__ import annotations

import json
import re
import threading
import urllib.parse
import urllib.request

from .local_server import LocalHandler, LocalServer

_CREATE_RE = re.compile(
    r"CREATE\s+TABLE\s+(?P<name>\w+)\s*\((?P<cols>.*?)\)\s*"
    r"ENGINE\s*=\s*ReplacingMergeTree\s*\((?P<params>[^)]*)\)\s*"
    r"ORDER\s+BY\s+(?P<key>\w+)",
    re.I | re.S,
)


class _Table:
    def __init__(self, cols, key, version, is_deleted):
        self.cols = cols  # [(name, type), ...] declaration order
        self.key = key
        self.version = version
        self.is_deleted = is_deleted
        self.parts: list[list[dict]] = []  # immutable insert batches

    def final_rows(self) -> list[dict]:
        """FINAL collapse: per key, the (version, insert-seq)-highest
        row wins; a winning soft-delete drops the key."""
        best: dict = {}
        seq = 0
        for part in self.parts:
            for row in part:
                seq += 1
                k = row[self.key]
                cur = best.get(k)
                v = (row[self.version], seq)
                if cur is None or v >= cur[0]:
                    best[k] = (v, row)
        out = []
        for k in sorted(best):
            row = best[k][1]
            if self.is_deleted and row.get(self.is_deleted):
                continue
            out.append(row)
        return out


class _ChState:
    def __init__(self):
        self.lock = threading.Lock()
        self.tables: dict[str, _Table] = {}


def _handler(state: _ChState):
    class Handler(LocalHandler):
        protocol_version = "HTTP/1.1"

        def _run(self, query: str, body: str) -> None:
            q = query.strip().rstrip(";")
            m = _CREATE_RE.match(q)
            if m:
                cols = [
                    tuple(c.strip().split(None, 1))
                    for c in m.group("cols").split(",")
                ]
                params = [p.strip() for p in m.group("params").split(",") if p.strip()]
                version = params[0]
                is_deleted = params[1] if len(params) > 1 else None
                with state.lock:
                    state.tables[m.group("name")] = _Table(
                        cols, m.group("key"), version, is_deleted
                    )
                self.reply(200, "")
                return
            mi = re.match(
                r"INSERT\s+INTO\s+(\w+)\s+FORMAT\s+JSONEachRow", q, re.I
            )
            if mi:
                rows = [json.loads(ln) for ln in body.split("\n") if ln.strip()]
                with state.lock:
                    t = state.tables.get(mi.group(1))
                    if t is None:
                        self.reply(404, f"Table {mi.group(1)} does not exist")
                        return
                    t.parts.append(rows)  # one immutable part per POST
                self.reply(200, "")
                return
            ms = re.match(
                r"SELECT\s+\*\s+FROM\s+(\w+)(\s+FINAL)?\s+FORMAT\s+JSON", q, re.I
            )
            if ms:
                with state.lock:
                    t = state.tables.get(ms.group(1))
                    if t is None:
                        self.reply(404, f"Table {ms.group(1)} does not exist")
                        return
                    rows = (
                        t.final_rows()
                        if ms.group(2)
                        else [r for p in t.parts for r in p]
                    )
                self.reply(200, {"data": rows, "rows": len(rows)})
                return
            self.reply(400, f"unsupported query: {q[:80]}")

        def do_POST(self) -> None:
            parsed = urllib.parse.urlparse(self.path)
            params = urllib.parse.parse_qs(parsed.query)
            body = self.read_body().decode()
            query = params.get("query", [""])[0] or body
            self._run(query, body if params.get("query") else "")

        def do_GET(self) -> None:
            parsed = urllib.parse.urlparse(self.path)
            params = urllib.parse.parse_qs(parsed.query)
            self._run(params.get("query", [""])[0], "")

    return Handler


class ClickHouseServer(LocalServer):
    """In-process server speaking the HTTP-interface subset above."""

    def __init__(self) -> None:
        super().__init__(_handler(_ChState()))


def ch_execute(url: str, query: str, body: str = "") -> str:
    """One HTTP-interface request; executor-safe."""
    data = body.encode() if body else None
    full = f"{url}/?query={urllib.parse.quote(query)}"
    req = urllib.request.Request(full, data=data, method="POST" if body else "GET")
    with urllib.request.urlopen(req, timeout=30) as resp:
        return resp.read().decode()


def ch_select_final(url: str, table: str) -> list[dict]:
    """Readback for the test/driver gate (key-cardinality bounded)."""
    out = ch_execute(url, f"SELECT * FROM {table} FINAL FORMAT JSON")
    return json.loads(out)["data"]


class ClickHouseInsertSink:
    """foreachBatch / batch sink streaming CDC rows as JSONEachRow
    inserts into a ReplacingMergeTree(version, is_deleted) table.

    Rows are POSTed per partition ON THE EXECUTORS (mapInPandas); each
    POST is one immutable part. Delete events become is_deleted=1 rows
    with their event-order version — the collapse at FINAL drops the
    key iff the delete is the newest fact, so the landed table equals
    batch latest-state regardless of delivery order or redelivery.
    Picklable state: url/table/column names only.
    """

    def __init__(
        self,
        url: str,
        table: str,
        key_col: str = "pk",
        version_col: str = "ver",
        op_col: str = "op",
        batch_rows: int = 5000,
    ) -> None:
        self.url = url
        self.table = table
        self.key_col = key_col
        self.version_col = version_col
        self.op_col = op_col
        self.batch_rows = batch_rows

    def __call__(self, batch, batch_id: int | None = None) -> None:
        url, table = self.url, self.table
        op_col = self.op_col
        max_rows = self.batch_rows
        cols = [c for c in batch.columns if c != op_col]
        insert_q = f"INSERT INTO {table} FORMAT JSONEachRow"

        def send(iterator):
            import pandas as pd

            for pdf in iterator:
                lines = []
                for row in pdf.itertuples(index=False):
                    d = {
                        k: (v.item() if hasattr(v, "item") else v)
                        for k, v in row._asdict().items()
                    }
                    rec = {k: d[k] for k in cols}
                    rec["is_deleted"] = 1 if d[op_col] == "d" else 0
                    lines.append(json.dumps(rec))
                    if len(lines) >= max_rows:
                        ch_execute(url, insert_q, "\n".join(lines) + "\n")
                        lines = []
                if lines:
                    ch_execute(url, insert_q, "\n".join(lines) + "\n")
                yield pd.DataFrame({"n": [len(pdf)]})

        batch.select(op_col, *cols).mapInPandas(send, "n long").write.format(
            "noop"
        ).mode("overwrite").save()
