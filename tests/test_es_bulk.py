"""Elasticsearch bulk-protocol conformance + sink parity.

The server speaks the public Bulk API subset with external_gte
versioning (sinks_es.py); these tests pin the protocol semantics the
CDC sink relies on: versioned upsert/delete, stale-write rejection
(409), redelivery idempotence, and stream/batch latest-state parity
independent of delivery order.
"""

from __future__ import annotations

import json

import pytest

from cdc_debezium_spark.operators import cdc
from cdc_debezium_spark.sinks_es import EsBulkServer, EsBulkSink, post_bulk, search_all
from cdc_debezium_spark.streaming.replay import (
    drain,
    read_event_stream,
    write_event_chunks,
)


def _state(url, index):
    return {
        h["_id"]: (h["_version"], h["_source"]) for h in search_all(url, index)
    }


def _nd(*lines) -> str:
    return "\n".join(json.dumps(x) for x in lines) + "\n"


def test_bulk_versioned_upsert_delete_and_conflict():
    with EsBulkServer() as srv:
        r = post_bulk(
            srv.url,
            "t",
            _nd(
                {"index": {"_id": "1", "version": 10, "version_type": "external_gte"}},
                {"v": "a"},
                {"index": {"_id": "1", "version": 20, "version_type": "external_gte"}},
                {"v": "b"},
            ),
        )
        stats = [list(i.values())[0]["status"] for i in r["items"]]
        assert stats == [201, 200] and not r["errors"]
        # stale write: lower version must 409 and change nothing
        r = post_bulk(
            srv.url,
            "t",
            _nd(
                {"index": {"_id": "1", "version": 15, "version_type": "external_gte"}},
                {"v": "stale"},
            ),
        )
        assert r["errors"]
        item = r["items"][0]["index"]
        assert item["status"] == 409
        assert item["error"]["type"] == "version_conflict_engine_exception"
        assert _state(srv.url, "t")["1"] == (20, {"v": "b"})
        # versioned delete wins over the stale late index that follows
        post_bulk(
            srv.url,
            "t",
            _nd({"delete": {"_id": "1", "version": 30, "version_type": "external_gte"}}),
        )
        r = post_bulk(
            srv.url,
            "t",
            _nd(
                {"index": {"_id": "1", "version": 25, "version_type": "external_gte"}},
                {"v": "zombie"},
            ),
        )
        assert r["items"][0]["index"]["status"] == 409
        assert "1" not in _state(srv.url, "t")  # no resurrection


def test_bulk_redelivery_is_idempotent():
    body = _nd(
        {"index": {"_id": "7", "version": 5, "version_type": "external_gte"}},
        {"v": "x"},
        {"delete": {"_id": "8", "version": 6, "version_type": "external_gte"}},
    )
    with EsBulkServer() as srv:
        post_bulk(srv.url, "t", body)
        first = _state(srv.url, "t")
        post_bulk(srv.url, "t", body)  # at-least-once redelivery
        assert _state(srv.url, "t") == first == {"7": (5, {"v": "x"})}


def test_es_sink_stream_parity_any_order(spark, sf_dir, tmp_path):
    """foreachBatch through EsBulkSink over a chunked stream with
    FORCED mtime ties (worst-case batch reordering) must land exactly
    the batch latest-state — the external_gte twin of the DeltaUpsertSink
    order-robustness pin, with the guarantee enforced by the store's
    concurrency control instead of retained tombstones."""
    import glob
    import os
    import time as _time

    import pyspark.sql.functions as F

    chunk_dir = str(tmp_path / "chunks_es")
    write_event_chunks(spark, sf_dir, chunk_dir, n_chunks=4)
    t = _time.time() - 10
    for f in glob.glob(f"{chunk_dir}/*.parquet"):
        os.utime(f, (t, t))

    srv = EsBulkServer()
    try:
        stream = cdc.to_cdc(read_event_stream(spark, chunk_dir)).select(
            "pk",
            (F.col("ts_us") * 4096 + F.pmod(F.col("ord2"), F.lit(4096))).alias("ver"),
            "op",
            "ts_us",
            "val",
        )
        sink = EsBulkSink(srv.url, "cdc_state", key_col="pk", version_col="ver")
        drain(stream.writeStream.foreachBatch(sink), str(tmp_path / "cp_es"), "es bulk")

        got = sorted(
            (int(h["_id"]), h["_source"]["ts_us"], h["_source"]["val"])
            for h in search_all(srv.url, "cdc_state")
        )
        want = sorted(
            (r["pk"], r["ts_us"], r["val"])
            for r in cdc.latest_state(cdc.cdc_events(spark, sf_dir))
            .select("pk", "ts_us", "val")
            .collect()
        )
        assert got == want
    finally:
        srv.close()


def test_hostile_string_ids_roundtrip(spark):
    """Keys containing quotes, backslashes, control chars, and unicode
    must survive the vectorized bulk-metadata path (the fast concat
    skips json escaping for safe ids and escapes only regex-flagged
    rows — this pins both branches in one batch, against the real
    server's json.loads)."""
    hostile = [
        'plain',
        'has"quote',
        "back\\slash",
        "tab\there",
        "new\nline",
        'both"\\and\x01ctl',
        "uni-\u00e9\u4e2d",
    ]
    rows = [(k, i + 1, "u", float(i)) for i, k in enumerate(hostile)]
    df = spark.createDataFrame(rows, "pk string, ver long, op string, val double")
    with EsBulkServer() as srv:
        EsBulkSink(srv.url, "hostile", key_col="pk", version_col="ver")(df)
        got = {h["_id"]: h["_source"]["val"] for h in search_all(srv.url, "hostile")}
    assert got == {k: float(i) for i, k in enumerate(hostile)}
