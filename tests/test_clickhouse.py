"""ClickHouse HTTP-interface conformance + sink parity.

Pins the protocol semantics the CDC sink relies on (sinks_clickhouse):
immutable-part inserts, FINAL collapse by (version, insert-seq) with
is_deleted soft-delete, redelivery idempotence, and stream/batch
latest-state parity independent of delivery order.
"""

from __future__ import annotations

import json

from cdc_debezium_spark.operators import cdc
from cdc_debezium_spark.sinks_clickhouse import (
    ClickHouseInsertSink,
    ClickHouseServer,
    ch_execute,
    ch_select_final,
)
from cdc_debezium_spark.streaming.replay import (
    drain,
    read_event_stream,
    write_event_chunks,
)

DDL = (
    "CREATE TABLE t (pk Int64, ver Int64, v String, is_deleted UInt8) "
    "ENGINE = ReplacingMergeTree(ver, is_deleted) ORDER BY pk"
)


def _nd(*rows) -> str:
    return "\n".join(json.dumps(r) for r in rows) + "\n"


def test_final_collapse_and_soft_delete():
    with ClickHouseServer() as srv:
        ch_execute(srv.url, DDL)
        # two parts, intentionally out of version order across POSTs
        ch_execute(
            srv.url,
            "INSERT INTO t FORMAT JSONEachRow",
            _nd(
                {"pk": 1, "ver": 20, "v": "new", "is_deleted": 0},
                {"pk": 2, "ver": 10, "v": "x", "is_deleted": 0},
            ),
        )
        ch_execute(
            srv.url,
            "INSERT INTO t FORMAT JSONEachRow",
            _nd(
                {"pk": 1, "ver": 10, "v": "old", "is_deleted": 0},  # stale
                {"pk": 2, "ver": 30, "v": "", "is_deleted": 1},  # delete wins
                {"pk": 3, "ver": 5, "v": "z", "is_deleted": 0},
            ),
        )
        # raw read sees every inserted row (append-only parts)
        raw = json.loads(ch_execute(srv.url, "SELECT * FROM t FORMAT JSON"))
        assert raw["rows"] == 5
        fin = {r["pk"]: r for r in ch_select_final(srv.url, "t")}
        assert set(fin) == {1, 3}  # pk=2 soft-deleted
        assert fin[1]["v"] == "new" and fin[1]["ver"] == 20
        # stale late delete cannot resurrect-or-drop against newer fact
        ch_execute(
            srv.url,
            "INSERT INTO t FORMAT JSONEachRow",
            _nd({"pk": 1, "ver": 15, "v": "", "is_deleted": 1}),
        )
        assert 1 in {r["pk"] for r in ch_select_final(srv.url, "t")}


def test_redelivery_collapses_identically():
    body = _nd(
        {"pk": 7, "ver": 5, "v": "a", "is_deleted": 0},
        {"pk": 8, "ver": 6, "v": "", "is_deleted": 1},
    )
    with ClickHouseServer() as srv:
        ch_execute(srv.url, DDL)
        ch_execute(srv.url, "INSERT INTO t FORMAT JSONEachRow", body)
        first = sorted(
            (r["pk"], r["ver"], r["v"]) for r in ch_select_final(srv.url, "t")
        )
        ch_execute(srv.url, "INSERT INTO t FORMAT JSONEachRow", body)  # redeliver
        assert (
            sorted((r["pk"], r["ver"], r["v"]) for r in ch_select_final(srv.url, "t"))
            == first
            == [(7, 5, "a")]
        )


def test_ch_sink_stream_parity_any_order(spark, sf_dir, tmp_path):
    """foreachBatch through ClickHouseInsertSink over a chunked stream
    with FORCED mtime ties must land exactly batch latest-state at
    FINAL — the ReplacingMergeTree twin of the ES external_gte pin."""
    import glob
    import os
    import time as _time

    import pyspark.sql.functions as F

    chunk_dir = str(tmp_path / "chunks_ch")
    write_event_chunks(spark, sf_dir, chunk_dir, n_chunks=4)
    t = _time.time() - 10
    for f in glob.glob(f"{chunk_dir}/*.parquet"):
        os.utime(f, (t, t))

    srv = ClickHouseServer()
    try:
        ch_execute(
            srv.url,
            "CREATE TABLE cdc_state (pk Int64, ver Int64, ts_us Int64, "
            "val Float64, is_deleted UInt8) "
            "ENGINE = ReplacingMergeTree(ver, is_deleted) ORDER BY pk",
        )
        stream = cdc.to_cdc(read_event_stream(spark, chunk_dir)).select(
            "pk",
            (F.col("ts_us") * 4096 + F.pmod(F.col("ord2"), F.lit(4096))).alias("ver"),
            "op",
            "ts_us",
            "val",
        )
        sink = ClickHouseInsertSink(srv.url, "cdc_state", version_col="ver")
        drain(stream.writeStream.foreachBatch(sink), str(tmp_path / "cp_ch"), "clickhouse")

        got = sorted(
            (r["pk"], r["ts_us"], r["val"])
            for r in ch_select_final(srv.url, "cdc_state")
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
