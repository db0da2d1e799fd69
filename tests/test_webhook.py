"""Webhook fan-out sink protocol conformance (SURVEY §2.A sink depth):
HMAC signing, apply-then-crash retry semantics, and version-gated
idempotence — checked at the wire level without Spark, plus the Spark
roundtrip invariants the oracle can't express."""

from __future__ import annotations

import json
import threading
import urllib.error
import urllib.request

import pytest

from cdc_debezium_spark.sinks_webhook import (
    WebhookServer,
    post_signed,
    read_state,
    sign,
)


def _lines(*ops) -> bytes:
    return ("\n".join(json.dumps(o) for o in ops) + "\n").encode()


@pytest.fixture()
def srv():
    with WebhookServer() as s:
        yield s


def test_rejects_tampered_and_unsigned_requests(srv):
    body = _lines({"key": "1", "ver": 1, "op": "u", "data": {"v": 1.0}})
    # unsigned
    req = urllib.request.Request(
        f"{srv.url}/webhook", data=body, method="POST",
        headers={"Content-Type": "application/x-ndjson"},
    )
    with pytest.raises(urllib.error.HTTPError) as e:
        urllib.request.urlopen(req, timeout=10)
    assert e.value.code == 401
    # signed-then-tampered: signature over DIFFERENT bytes
    req = urllib.request.Request(
        f"{srv.url}/webhook", data=body + b" ", method="POST",
        headers={"X-Webhook-Signature": sign(body, srv.secret)},
    )
    with pytest.raises(urllib.error.HTTPError) as e:
        urllib.request.urlopen(req, timeout=10)
    assert e.value.code == 401
    # nothing applied, both rejections counted
    st = srv.stats()
    assert st["applied"] == 0 and st["keys"] == 0
    assert st["rejected_auth"] == 2
    # and post_signed refuses to retry a 401 (client bug, not flakiness)
    with pytest.raises(urllib.error.HTTPError):
        post_signed(srv.url, body, "wrong-secret")


def test_apply_then_crash_forces_exactly_one_retry(srv):
    b1 = _lines({"key": "a", "ver": 1, "op": "u", "data": {"v": 1.0}})
    b2 = _lines({"key": "b", "ver": 1, "op": "u", "data": {"v": 2.0}})
    post_signed(srv.url, b1, srv.secret)
    post_signed(srv.url, b2, srv.secret)
    st = srv.stats()
    # every distinct body: first attempt applied-then-503, retry acked
    assert st["requests"] == 4
    assert st["crashed_acks"] == 2
    # double application absorbed by the version gate (ver >= cur
    # re-applies the same value): state has exactly the two keys
    assert {r["key"]: r["data"]["v"] for r in read_state(srv.url)} == {
        "a": 1.0,
        "b": 2.0,
    }


def test_version_gate_orders_and_tombstones(srv):
    # deliver new->old->delete-old: stale ops rejected, the delete's
    # version wins only where it is newest
    post_signed(
        srv.url,
        _lines(
            {"key": "k", "ver": 5, "op": "u", "data": {"v": 5.0}},
            {"key": "k", "ver": 3, "op": "u", "data": {"v": 3.0}},  # stale
            {"key": "g", "ver": 1, "op": "u", "data": {"v": 1.0}},
            {"key": "g", "ver": 2, "op": "d", "data": {}},  # tombstone wins
        ),
        srv.secret,
    )
    live = {r["key"]: (r["ver"], r["data"]["v"]) for r in read_state(srv.url)}
    assert live == {"k": (5, 5.0)}
    st = srv.stats()
    assert st["stale_rejected"] >= 1  # the ver=3 op (per delivery)
    assert st["keys"] == 2  # tombstone retained with its version


def test_redelivered_batch_is_idempotent(srv):
    body = _lines(
        {"key": "x", "ver": 1, "op": "u", "data": {"v": 1.5}},
        {"key": "x", "ver": 2, "op": "u", "data": {"v": 2.5}},
    )
    post_signed(srv.url, body, srv.secret)
    before = read_state(srv.url)
    post_signed(srv.url, body, srv.secret)  # full redelivery
    assert read_state(srv.url) == before


def test_spark_roundtrip_scrambled_delivery(spark, sf_dir):
    """End-to-end: the gate lane's own invariant — scrambled
    partitioning + forced retry land exact latest-state. The lane
    itself raises unless every request crashed once and was retried
    once; it owns a fresh consumer per call, so a second call is as
    clean as the first and leaves no server thread behind."""
    from cdc_debezium_spark import queries_cdc
    from cdc_debezium_spark.operators import cdc as cdc_ops

    def serving():
        return {t for t in threading.enumerate() if "serve_forever" in t.name}

    before = serving()
    ce = cdc_ops.cdc_events(spark, sf_dir)
    exp_df = cdc_ops.latest_state(
        ce, keys=["pk"], order=["ts_us", "ord2"], op_col="op", drop_deleted=True
    )
    exp = {(r.pk, r.ts_us, r.val) for r in exp_df.select("pk", "ts_us", "val").collect()}
    for _ in range(2):
        out = queries_cdc.cdc_webhook_fanout_roundtrip(spark, sf_dir)
        got = {(r.pk, r.version_us, r.last_val) for r in out.collect()}
        assert got == exp
    assert not serving() - before
