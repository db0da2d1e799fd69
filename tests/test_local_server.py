"""The shared server shell (`local_server.LocalServer`) under each of the
six in-process protocol servers: every one answers a request, closes
within a second and frees its port; a client that still holds a
connection does not hold up `close()`."""

from __future__ import annotations

import json
import socket
import threading
import time
import urllib.request

import pytest

from cdc_debezium_spark.sinks_clickhouse import ClickHouseServer, ch_execute
from cdc_debezium_spark.sinks_es import EsBulkServer
from cdc_debezium_spark.sinks_redis import RedisRespServer, RespClient
from cdc_debezium_spark.sinks_webhook import WebhookServer
from cdc_debezium_spark.sources.schema_registry import SchemaRegistryServer
from cdc_debezium_spark.streaming.metrics import MetricsEndpoint, ProgressCapture


def _get(url: str) -> bytes:
    with urllib.request.urlopen(url, timeout=5) as resp:
        return resp.read()


def _ping(srv) -> bool:
    cli = RespClient(srv.host, srv.port)
    try:
        return cli.execute(b"PING") == "PONG"
    finally:
        cli.close()


def _create_table(srv) -> bool:
    ddl = "CREATE TABLE t (k Int64, v Int64) ENGINE = ReplacingMergeTree(v) ORDER BY k"
    return ch_execute(srv.url, ddl) == ""


# name -> (constructor, one request that must be answered)
CASES = {
    "clickhouse": (ClickHouseServer, _create_table),
    "es": (EsBulkServer, lambda s: _get(f"{s.url}/idx/_count") == b'{"count": 0}'),
    "metrics": (
        lambda: MetricsEndpoint(ProgressCapture()),
        lambda s: b"cdc_stream_endpoint_up 1" in _get(f"{s.url}/metrics"),
    ),
    "redis": (RedisRespServer, _ping),
    "registry": (SchemaRegistryServer, lambda s: _get(f"{s.url}/subjects") == b"[]"),
    "webhook": (
        WebhookServer,
        lambda s: json.loads(_get(f"{s.url}/stats"))["requests"] == 0,
    ),
}


def _refused(host: str, port: int) -> bool:
    try:
        socket.create_connection((host, port), timeout=1).close()
    except ConnectionRefusedError:
        return True
    return False


@pytest.mark.parametrize("name", sorted(CASES))
def test_server_answers_closes_fast_and_frees_its_port(name):
    make, answers = CASES[name]
    srv = make()
    try:
        assert answers(srv)
    finally:
        t0 = time.perf_counter()
        srv.close()
        took = time.perf_counter() - t0
    assert took < 1.0, f"{name} close() took {took:.3f} s"
    assert _refused(srv.host, srv.port)


def test_redis_close_does_not_wait_for_a_connected_client():
    srv = RedisRespServer()
    cli = RespClient(srv.host, srv.port)
    try:
        assert cli.execute(b"PING") == "PONG"  # connection held open
        closer = threading.Thread(target=srv.close, daemon=True)
        closer.start()
        closer.join(timeout=2)
        assert not closer.is_alive(), "close() blocked on an open client"
    finally:
        cli.close()
    closer.join(timeout=5)
    assert _refused(srv.host, srv.port)
