"""One CDC stream -> all four declared sinks, consistently.

The reference's topology (README.md:40-51 mermaid) fans one change
topic out to Elasticsearch, ClickHouse, Redis and the DW. This test
runs that topology end-to-end over the real wire protocols: a single
chunked CDC stream whose every micro-batch feeds, in one foreachBatch,
the ES bulk sink (external_gte versions), the ClickHouse JSONEachRow
sink (ReplacingMergeTree + FINAL), the Redis latest-KV sink (per-batch
reduction + pipelined RESP), and the merge-on-read DeltaUpsertSink
over its TxTable log (tombstone retention) — and at the end all four
materializations plus the DW parquet analog must agree with batch
latest-state and with each other.
"""

from __future__ import annotations

import json

import pyspark.sql.functions as F

from cdc_debezium_spark.operators import cdc
from cdc_debezium_spark.sinks_clickhouse import (
    ClickHouseInsertSink,
    ClickHouseServer,
    ch_execute,
    ch_select_final,
)
from cdc_debezium_spark.sinks_es import EsBulkServer, EsBulkSink, search_all
from cdc_debezium_spark.sinks_redis import (
    RedisLatestKvSink,
    RedisRespServer,
    RespClient,
)
from cdc_debezium_spark.streaming.replay import (
    drain,
    read_event_stream,
    write_event_chunks,
)
from cdc_debezium_spark.streaming.state import DeltaUpsertSink


def test_one_stream_feeds_all_four_sinks(spark, sf_dir, tmp_path):
    chunk_dir = str(tmp_path / "chunks_fan")
    write_event_chunks(spark, sf_dir, chunk_dir, n_chunks=4)

    es, ch, rd = EsBulkServer(), ClickHouseServer(), RedisRespServer()
    try:
        ch_execute(
            ch.url,
            "CREATE TABLE cdc_state (pk Int64, ver Int64, ts_us Int64, "
            "val Float64, is_deleted UInt8) "
            "ENGINE = ReplacingMergeTree(ver, is_deleted) ORDER BY pk",
        )
        es_sink = EsBulkSink(es.url, "cdc_state", key_col="pk", version_col="ver")
        ch_sink = ClickHouseInsertSink(ch.url, "cdc_state", version_col="ver")
        rd_sink = RedisLatestKvSink(rd.host, rd.port)
        tx_sink = DeltaUpsertSink(str(tmp_path / "txstate"))
        dw_dir = str(tmp_path / "dw")

        def fanout(batch, batch_id):
            versioned = batch.withColumn(
                "ver",
                F.col("ts_us") * 4096 + F.pmod(F.col("ord2"), F.lit(4096)),
            ).select("pk", "ver", "op", "ts_us", "val")
            versioned.persist()
            try:
                es_sink(versioned, batch_id)
                ch_sink(versioned, batch_id)
            finally:
                versioned.unpersist()
            rd_sink(batch.select("pk", "ord2", "ts_us", "op", "val"), batch_id)
            tx_sink(batch, batch_id)

        stream = cdc.to_cdc(read_event_stream(spark, chunk_dir))
        drain(stream.writeStream.foreachBatch(fanout), str(tmp_path / "cp_fan"), "fanout")

        want = sorted(
            (r["pk"], r["ts_us"], r["val"])
            for r in cdc.latest_state(cdc.cdc_events(spark, sf_dir))
            .select("pk", "ts_us", "val")
            .collect()
        )

        got_es = sorted(
            (int(h["_id"]), h["_source"]["ts_us"], h["_source"]["val"])
            for h in search_all(es.url, "cdc_state")
        )
        got_ch = sorted(
            (r["pk"], r["ts_us"], r["val"])
            for r in ch_select_final(ch.url, "cdc_state")
        )
        cli = RespClient(rd.host, rd.port)
        keys = cli.execute(b"KEYS", b"*")
        vals = cli.pipeline([[b"GET", k] for k in keys]) if keys else []
        cli.close()
        got_rd = sorted(
            (int(k.decode().split(":", 1)[1]), d["ts_us"], d["val"])
            for k, v in zip(keys, vals)
            for d in (json.loads(v),)
        )
        got_tx = sorted(
            (r["pk"], r["ts_us"], r["val"])
            for r in tx_sink.read_live(spark).select("pk", "ts_us", "val").collect()
        )
        # DW analog: the compacted latest-state written from the ACID
        # store (the aggregate-feeding copy, README.md:78-80)
        tx_sink.read_live(spark).select("pk", "ts_us", "val").write.mode(
            "overwrite"
        ).parquet(dw_dir)
        got_dw = sorted(
            (r["pk"], r["ts_us"], r["val"])
            for r in spark.read.parquet(dw_dir).collect()
        )

        assert got_es == want, "elasticsearch drifted"
        assert got_ch == want, "clickhouse drifted"
        assert got_rd == want, "redis drifted"
        assert got_tx == want, "tx store drifted"
        assert got_dw == want, "dw copy drifted"
    finally:
        es.close()
        ch.close()
        rd.close()
