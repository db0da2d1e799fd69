"""File-stream replay of the events fixture.

Stands in for the Kafka source in tests (SURVEY §2.A A1: prod is
``readStream.format("kafka")``; the envelope/transform/sink code is
source-agnostic). Events are split into ts-ordered chunk files and
streamed with ``maxFilesPerTrigger=1`` so each chunk becomes one
micro-batch — the replay analog of consuming a topic from offset 0
(reference backup/DR replay, setup-infrastructure.sh:386-441).
"""

from __future__ import annotations

import os
from contextlib import contextmanager as _contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..sources.catalog import load_table

EVENT_STREAM_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts_us", LongType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


@_contextmanager
def scaled_state_partitions(
    spark: SparkSession, src_dir: str, mb_per_partition: float = 32
):
    """Scale-adaptive shuffle-partition count for STATEFUL streaming
    queries (r15, guide §2.2 "make partitioning scale-adaptive").

    AQE never touches stateful-streaming shuffles — the state-store
    partition count is pinned from ``spark.sql.shuffle.partitions`` at
    the first micro-batch and written into the checkpoint — so the
    batch side's coalescing has no streaming analog and every stateful
    gate lane paid the session default (one state-store instance +
    commit per partition PER MICRO-BATCH per stateful operator)
    regardless of input size. Measured at sf0.01: the stream-stream
    join is 20 s at 32 partitions vs 4.6 s at 4 — pure state/task
    overhead, zero result change (partition count never affects WHAT a
    keyed stateful operator computes, only where keys live).

    The rule mirrors AQE's sizing: one partition per
    ``mb_per_partition`` MB of source chunk bytes (default 32 — the
    JVM-state density), floor 4, ceiling the session default (a
    cluster's operator-sized setting still applies at scale — this
    helper only ever SHRINKS below it, exactly like coalescing). The
    conf is set for the duration of the ``with`` block (stream start
    pins it) and restored after; CDC_STREAM_STATE_PARTS overrides for
    rehearsals. Use ONLY around streams with a fresh checkpoint —
    resuming an old checkpoint keeps its recorded count anyway.

    ``mb_per_partition``: partition DENSITY must match the operator's
    per-row cost. Built-in JVM stateful operators (windows, dedup,
    joins) are commit-overhead-bound — 32 MB/partition won at BOTH
    sf0.01 and sf1 in same-window A/Bs. applyInPandasWithState /
    transformWithState run USER PYTHON per key: per-row cost is
    1-2 orders denser (and snappy parquet bytes UNDER-represent row
    count ~8 B/row on the event fixture), so the r15 sf1 sweep caught
    the 32 MB rule starving them (udf_stateful 24 -> 59.5 s, the
    timeout lane's 90 s cap blown; 2 MB still starved: 6 partitions =
    52 s vs 24 s at the default). Those lanes pass
    mb_per_partition=0.5 — the floor fires only on truly tiny gate
    fixtures (<= ~2 MB of chunks, where 4 partitions measured
    17.3 -> 4.0 s) and ~sf1 scale is back at the session default.
    """
    default = int(spark.conf.get("spark.sql.shuffle.partitions"))
    env = os.environ.get("CDC_STREAM_STATE_PARTS")
    if env:
        parts = int(env)
    else:
        n_bytes = 0
        for root, _dirs, files in os.walk(src_dir):
            for f in files:
                try:
                    n_bytes += os.path.getsize(os.path.join(root, f))
                except OSError:
                    pass
        per = max(1, int(mb_per_partition * (1 << 20)))
        # min AFTER max: with a session default below the floor of 4
        # the old max(4, min(default, ...)) would RAISE the partition
        # count above the default, violating the only-ever-shrinks
        # contract (r15 ADVICE).
        parts = min(default, max(4, -(-n_bytes // per)))
    if parts == default:
        yield
        return
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", str(default))


def write_event_chunks(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    n_chunks: int = 5,
    repeat: int = 1,
) -> int:
    """Write the events table as `n_chunks` ts-ordered parquet files.

    ``repeat > 1`` duplicates every chunk file — the at-least-once
    redelivery simulation (offset replay after crash,
    prod-resources.yaml:14-20). Test-fixture generator: collects to the
    driver by design (bounded test data, never a production path).

    Chunk files get STRICTLY INCREASING mtimes (``os.utime``): Spark's
    file streaming source orders pending files by modification time
    with ties broken arbitrarily, so back-to-back writes under load
    can land in one mtime tick and be delivered out of log order. The
    explicit stamps make "one chunk per micro-batch, in log order" a
    guarantee of the fixture rather than a timing accident — the
    per-partition offset ordering a keyed Kafka topic gives every
    consumer.
    """
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    src = load_table(spark, sf_dir, "events").select(
        "event_id", "ts_us", "user_id", "event_type", "value", "props"
    )
    n = src.count()
    os.makedirs(out_dir, exist_ok=True)
    t0 = time.time() - (n_chunks * repeat + 1)  # stay in the past

    if n > 5_000_000:
        # Decade-fixture path (sf100: 100M rows blew both the driver
        # pandas collect and spark.driver.maxResultSize): chunk
        # DISTRIBUTED via repartitionByRange on the same (ts_us,
        # event_id) log order — disjoint ordered ranges, one output
        # file per range, rows sorted within each — then stamp/copy
        # the files exactly like the driver path. Range boundaries
        # come from Spark's reservoir sampling, so chunk sizes are
        # approximately n/n_chunks rather than exact; gate lanes
        # whose oracles pin exact ceil(n/chunks) splits stay on the
        # exact driver path below the cutoff (driver fixtures are
        # <= sf0.1, orders of magnitude under it).
        import shutil as _shutil

        staging = os.path.join(out_dir, "_staging")
        (
            src.repartitionByRange(n_chunks, "ts_us", "event_id")
            .sortWithinPartitions("ts_us", "event_id")
            .write.mode("overwrite")
            .parquet(staging)
        )
        parts = sorted(
            f
            for f in os.listdir(staging)
            if f.startswith("part-") and f.endswith(".parquet")
        )
        total = 0
        seq = 0
        for i, part in enumerate(parts):
            src_path = os.path.join(staging, part)
            rows = pq.read_metadata(src_path).num_rows
            if not rows:
                continue
            for r in range(repeat):
                path = f"{out_dir}/chunk_{i:04d}_{r}.parquet"
                _shutil.copyfile(src_path, path)
                os.utime(path, (t0 + seq, t0 + seq))
                seq += 1
                total += rows
        _shutil.rmtree(staging, ignore_errors=True)
        return total

    ev = src.orderBy("ts_us", "event_id").toPandas()
    per = (n + n_chunks - 1) // n_chunks
    total = 0
    seq = 0
    for i in range(n_chunks):
        chunk = ev.iloc[i * per : (i + 1) * per]
        if chunk.empty:
            continue
        table = pa.Table.from_pandas(chunk, preserve_index=False)
        for r in range(repeat):
            path = f"{out_dir}/chunk_{i:04d}_{r}.parquet"
            pq.write_table(table, path)
            os.utime(path, (t0 + seq, t0 + seq))
            seq += 1
            total += len(chunk)
    return total


def read_event_stream(spark: SparkSession, chunk_dir: str) -> DataFrame:
    """One chunk file per micro-batch (the Kafka-trigger analog)."""
    return (
        spark.readStream.schema(EVENT_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(chunk_dir)
    )
