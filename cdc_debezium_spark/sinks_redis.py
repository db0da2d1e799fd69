"""Redis sink protocol, EXECUTED: in-process RESP2 server +
executor-side pipelined client.

The reference declares Redis as the latest-value cache sink
(README.md:51; values.yaml:95-99) with no consumer code. This module
executes the PUBLIC wire protocol (RESP2 — the byte protocol every
Redis client speaks) over real TCP sockets:

- requests are RESP arrays of bulk strings (``*N $len data ...``);
- commands implemented: SET, GET, DEL, EXISTS, KEYS, DBSIZE, FLUSHDB,
  PING — the subset a latest-KV CDC consumer touches;
- replies: simple strings, integers, bulk strings, arrays, per RESP2.

Ordering contract (differs from the ES/CH sinks on purpose): Redis has
no server-side versioning — the public CDC-to-Redis recipe relies on
per-key ORDERED delivery (a keyed topic partition) plus reducing each
micro-batch to its per-key newest event before writing. The sink does
exactly that: latest-per-key fold (tombstones kept) inside the batch,
then pipelined SET/DEL per partition from the executors — so within a
batch every key is written once, and across batches log order is the
stream's delivery order (E7's per-partition ordering guarantee). The
same at-least-once redelivery of a batch rewrites identical values —
idempotent.

Same in-process strategy as the registry/ES/CH protocols: a stdlib
socketserver on 127.0.0.1 (local_server.py), executors connect with
plain sockets, production swaps host:port.
"""

from __future__ import annotations

import json
import socket
import socketserver
import threading

from .local_server import LocalServer


class _RedisState:
    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.db: dict[bytes, bytes] = {}


def _encode(obj) -> bytes:
    """RESP2 encode a reply."""
    if isinstance(obj, SimpleString):
        return b"+" + obj.s.encode() + b"\r\n"
    if isinstance(obj, int):
        return b":" + str(obj).encode() + b"\r\n"
    if obj is None:
        return b"$-1\r\n"
    if isinstance(obj, bytes):
        return b"$" + str(len(obj)).encode() + b"\r\n" + obj + b"\r\n"
    if isinstance(obj, list):
        return b"*" + str(len(obj)).encode() + b"\r\n" + b"".join(
            _encode(x) for x in obj
        )
    raise TypeError(type(obj))


class SimpleString:
    def __init__(self, s: str) -> None:
        self.s = s


class _Conn:
    """Incremental RESP2 request parser over a socket file."""

    def __init__(self, rfile) -> None:
        self.rfile = rfile

    def read_command(self) -> list[bytes] | None:
        line = self.rfile.readline()
        if not line:
            return None
        if not line.startswith(b"*"):
            # inline command (redis-cli convenience)
            return line.strip().split()
        n = int(line[1:].strip())
        out = []
        for _ in range(n):
            hdr = self.rfile.readline()
            assert hdr.startswith(b"$"), hdr
            ln = int(hdr[1:].strip())
            data = self.rfile.read(ln)
            self.rfile.read(2)  # trailing \r\n
            out.append(data)
        return out


def _handler(state: _RedisState):
    class Handler(socketserver.StreamRequestHandler):
        def handle(self) -> None:
            conn = _Conn(self.rfile)
            while True:
                cmd = conn.read_command()
                if cmd is None:
                    return
                self.wfile.write(_encode(self._dispatch(cmd)))
                self.wfile.flush()

        def _dispatch(self, cmd: list[bytes]):
            name = cmd[0].upper()
            db = state.db
            with state.lock:
                if name == b"PING":
                    return SimpleString("PONG")
                if name == b"SET":
                    db[cmd[1]] = cmd[2]
                    return SimpleString("OK")
                if name == b"GET":
                    return db.get(cmd[1])
                if name == b"DEL":
                    n = 0
                    for k in cmd[1:]:
                        n += 1 if db.pop(k, None) is not None else 0
                    return n
                if name == b"EXISTS":
                    return sum(1 for k in cmd[1:] if k in db)
                if name == b"KEYS":  # pattern subset: '*' only
                    return sorted(db.keys())
                if name == b"DBSIZE":
                    return len(db)
                if name == b"FLUSHDB":
                    db.clear()
                    return SimpleString("OK")
            return SimpleString("ERR unknown command")

    return Handler


class RedisRespServer(LocalServer):
    """In-process RESP2 server. `host:port` is the address executors
    (or any real redis client limited to the subset) connect to."""

    def __init__(self) -> None:
        super().__init__(_handler(_RedisState()))


class RespClient:
    """Minimal pipelining RESP2 client (stdlib sockets; picklable via
    (host, port) — connect lazily per process/partition)."""

    def __init__(self, host: str, port: int) -> None:
        self.host = host
        self.port = port
        self._sock: socket.socket | None = None
        self._rfile = None

    def _connect(self):
        if self._sock is None:
            self._sock = socket.create_connection((self.host, self.port), timeout=30)
            self._rfile = self._sock.makefile("rb")
        return self._sock, self._rfile

    def __getstate__(self):
        return {"host": self.host, "port": self.port}

    def __setstate__(self, st):
        self.__init__(st["host"], st["port"])

    def close(self) -> None:
        if self._sock is not None:
            self._sock.close()
            self._sock, self._rfile = None, None

    @staticmethod
    def _req(parts: list[bytes]) -> bytes:
        out = [b"*" + str(len(parts)).encode() + b"\r\n"]
        for p in parts:
            out.append(b"$" + str(len(p)).encode() + b"\r\n" + p + b"\r\n")
        return b"".join(out)

    def _read_reply(self, rfile):
        line = rfile.readline()
        t, rest = line[:1], line[1:].strip()
        if t == b"+":
            return rest.decode()
        if t == b":":
            return int(rest)
        if t == b"$":
            n = int(rest)
            if n == -1:
                return None
            data = rfile.read(n)
            rfile.read(2)
            return data
        if t == b"*":
            return [self._read_reply(rfile) for _ in range(int(rest))]
        raise ValueError(line)

    def execute(self, *parts) -> object:
        return self.pipeline([parts])[0]

    def pipeline(self, commands) -> list:
        """Send N commands in one write, read N replies — the RESP
        pipelining that makes bulk CDC apply latency-free."""
        sock, rfile = self._connect()
        payload = b"".join(
            self._req([p if isinstance(p, bytes) else str(p).encode() for p in c])
            for c in commands
        )
        sock.sendall(payload)
        return [self._read_reply(rfile) for _ in commands]


class RedisLatestKvSink:
    """foreachBatch sink maintaining the latest-value KV cache (A11,
    values.yaml:95-99) over the real wire protocol.

    Each micro-batch is reduced to its per-key newest event first
    (tombstones kept so a delete beats older updates WITHIN the
    batch), then partitions pipeline SET (JSON value) / DEL to the
    server. Cross-batch correctness is the stream's per-key ordered
    delivery — the public contract of every keyed-topic Redis
    consumer; redelivered batches rewrite identical values.
    """

    def __init__(
        self,
        host: str,
        port: int,
        key_prefix: str = "cdc:",
        keys=("pk",),
        order=("ts_us", "ord2"),
        op_col: str = "op",
        pipeline_size: int = 500,
    ) -> None:
        self.host = host
        self.port = port
        self.key_prefix = key_prefix
        self.keys = list(keys)
        self.order = list(order)
        self.op_col = op_col
        self.pipeline_size = pipeline_size

    def __call__(self, batch, batch_id: int | None = None) -> None:
        from .operators.cdc import latest_state

        host, port, prefix = self.host, self.port, self.key_prefix
        op_col, key_cols = self.op_col, self.keys
        chunk = self.pipeline_size
        reduced = latest_state(
            batch, keys=self.keys, order=self.order, op_col=op_col,
            drop_deleted=False,
        )
        val_cols = [c for c in reduced.columns if c not in (*key_cols, op_col)]

        def send(iterator):
            import pandas as pd

            cli = RespClient(host, port)
            try:
                for pdf in iterator:
                    cmds = []
                    for row in pdf.itertuples(index=False):
                        d = {
                            k: (v.item() if hasattr(v, "item") else v)
                            for k, v in row._asdict().items()
                        }
                        rkey = prefix + ":".join(str(d[k]) for k in key_cols)
                        if d[op_col] == "d":
                            cmds.append([b"DEL", rkey.encode()])
                        else:
                            val = json.dumps({c: d[c] for c in val_cols})
                            cmds.append([b"SET", rkey.encode(), val.encode()])
                        if len(cmds) >= chunk:
                            cli.pipeline(cmds)
                            cmds = []
                    if cmds:
                        cli.pipeline(cmds)
                    yield pd.DataFrame({"n": [len(pdf)]})
            finally:
                cli.close()

        reduced.select(op_col, *key_cols, *val_cols).mapInPandas(
            send, "n long"
        ).write.format("noop").mode("overwrite").save()
