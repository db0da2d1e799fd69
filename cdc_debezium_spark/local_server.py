"""In-process server lifecycle shared by the protocol stand-ins (the ES,
ClickHouse, Redis, webhook and Schema Registry servers and the
Prometheus scrape target).

`LocalServer` binds 127.0.0.1 (an ephemeral port unless one is given),
serves from a daemon thread and stops on `close()` or at the end of a
``with`` block. Handler threads are daemons too, so `close()` never
waits for a client that still holds a connection open. `LocalHandler`
is the quiet HTTP handler base with one reply helper.
"""

from __future__ import annotations

import json
import socketserver
import threading
from http.server import BaseHTTPRequestHandler

# serve_forever checks for shutdown once per poll, so close() waits up
# to one poll (the stdlib default is 0.5 s).
POLL_INTERVAL = 0.05


class _ThreadingServer(socketserver.ThreadingTCPServer):
    # as http.server.HTTPServer: a fixed port (MetricsEndpoint) rebinds
    # while the last run's connections sit in TIME_WAIT
    allow_reuse_address = True
    daemon_threads = True  # not joined by server_close()


class LocalServer:
    """One request-handler class served on 127.0.0.1 until `close()`."""

    def __init__(
        self, handler: type[socketserver.BaseRequestHandler], port: int = 0
    ) -> None:
        self._server = _ThreadingServer(("127.0.0.1", port), handler)
        self.host, self.port = self._server.server_address
        self.url = f"http://{self.host}:{self.port}"
        self._thread = threading.Thread(
            target=self._server.serve_forever, args=(POLL_INTERVAL,), daemon=True
        )
        self._thread.start()

    def close(self) -> None:
        self._server.shutdown()
        self._server.server_close()
        self._thread.join()

    def __enter__(self):
        return self

    def __exit__(self, *exc) -> None:
        self.close()


class LocalHandler(BaseHTTPRequestHandler):
    """HTTP handler base: no per-request stderr log, one reply helper."""

    def log_message(self, *args) -> None:
        pass

    def reply(self, code: int, body, ctype: str | None = None) -> None:
        """Send one complete response with Content-Length set. A str
        body goes out as text/plain, anything else as JSON, unless
        `ctype` names the content type."""
        if isinstance(body, str):
            data, default = body.encode(), "text/plain"
        else:
            data, default = json.dumps(body).encode(), "application/json"
        self.send_response(code)
        self.send_header("Content-Type", ctype or default)
        self.send_header("Content-Length", str(len(data)))
        self.end_headers()
        self.wfile.write(data)

    def read_body(self) -> bytes:
        return self.rfile.read(int(self.headers.get("Content-Length", 0)))
