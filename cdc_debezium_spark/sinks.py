"""Spark-native writers for the reference's wire and storage shapes:
`to_kafka_wire` encodes rows as the JSON key/value records the
reference's topics carry, and `write_bucketed_table` lays a table out
for exchange-free joins on its bucket key. The declared consumers
(README.md:48-51) speak their own wire protocols in sinks_es.py,
sinks_clickhouse.py, sinks_redis.py and sinks_webhook.py.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame


def to_kafka_wire(
    df: DataFrame,
    key_cols: Sequence[str],
    topic: str | Column,
    num_partitions: int = 12,
) -> DataFrame:
    """Encode rows to the Kafka wire shape the reference produces:
    JSON key/value bytes, schemaless (JsonConverter schemas.enable=false,
    prod-resources.yaml:10-13), hash-partitioned by key into the
    default 12 partitions (prod-resources.yaml:94-95).

    ``topic`` may be a constant name or a per-row Column — the latter
    is what topic-routing SMTs (RegexRouter, the outbox EventRouter)
    produce; Kafka's producer API takes the topic per record, so a
    routed stream is still ONE producer/one sink.

    Feed the result to ``writeStream.format("kafka")`` in prod or to
    `sources.debezium.parse_envelope` in tests — the roundtrip is the
    wire-format contract (A6/A12).
    """
    keys = [F.col(c) for c in list(key_cols)]
    topic_col = F.lit(topic) if isinstance(topic, str) else topic
    wire = df.select(
        topic_col.alias("topic"),
        F.encode(F.to_json(F.struct(*keys)), "utf-8").alias("key"),
        F.encode(F.to_json(F.struct(*df.columns)), "utf-8").alias("value"),
        F.pmod(F.hash(*keys), num_partitions).alias("partition"),
    )
    return wire.repartition(num_partitions, F.col("partition"))


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_cols: Sequence[str],
    num_buckets: int = 12,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed table: the co-located-join storage layout.

    Both sides of a recurring join written with the same bucket spec
    join WITHOUT any exchange — the shuffle is paid once at write time
    and amortized over every subsequent join/aggregation on the bucket
    key (verified by tests/test_plans.py::test_bucketed_join_no_shuffle).
    12 buckets mirrors the reference's 12-partition keyed topics
    (prod-resources.yaml:94-95) — same idea, at rest.
    """
    cols = list(bucket_cols)
    (
        df.write.mode(mode)
        .bucketBy(num_buckets, *cols)
        .sortBy(*cols)
        .format("parquet")
        .saveAsTable(table)
    )
