"""Kafka wire-shape round-trip for `sinks.to_kafka_wire` (SURVEY §2.A
A6/A12)."""

from __future__ import annotations


def test_kafka_wire_roundtrip(spark, sf_dir):
    """A6/A12: rows -> JSON wire bytes -> from_json lands the same rows
    (the producer/consumer contract both ends of the topic rely on)."""
    import pyspark.sql.functions as F

    from cdc_debezium_spark.sinks import to_kafka_wire
    from cdc_debezium_spark.sources.catalog import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    wire = to_kafka_wire(ev, ["user_id"], topic="prod.public.events")
    assert set(wire.columns) == {"topic", "key", "value", "partition"}
    parts = [r.partition for r in wire.select("partition").distinct().collect()]
    assert all(0 <= p < 12 for p in parts)

    back = wire.select(
        F.from_json(
            F.col("value").cast("string"),
            "event_id long, user_id long, event_type string, value double",
        ).alias("r")
    ).select("r.*")
    a = sorted(map(tuple, ev.collect()))
    b = sorted(map(tuple, back.collect()))
    assert a == b
