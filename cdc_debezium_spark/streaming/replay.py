"""File-stream replay of the events fixture.

Stands in for the Kafka source in tests (SURVEY §2.A A1: prod is
``readStream.format("kafka")``; the envelope/transform/sink code is
source-agnostic). Events are split into ts-ordered chunk files and
streamed with ``maxFilesPerTrigger=1`` so each chunk becomes one
micro-batch — the replay analog of consuming a topic from offset 0
(reference backup/DR replay, setup-infrastructure.sh:386-441).
``start`` and ``drain`` run every replay as an availableNow query over
a checkpoint.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
from contextlib import contextmanager as _contextmanager

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery
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
    """Size ``spark.sql.shuffle.partitions`` for a stateful streaming
    query from its source bytes, for the duration of the ``with`` block.

    AQE does not coalesce stateful-streaming shuffles: the state store
    keeps one instance per shuffle partition, and every instance is
    loaded and committed once per micro-batch, so a small input pays
    the session default in overhead alone. The partition count never
    changes what a keyed stateful operator computes, only where keys
    live.

    Rule: one partition per ``mb_per_partition`` MB of files under
    ``src_dir``, at least 4, and never more than the session default:
    the helper only ever shrinks the count. The default 32 MB suits the
    JVM operators (windows, dedup, joins); the Python-state lanes
    (applyInPandasWithState, transformWithStateInPandas) run user code
    per key and pass 0.25. The count is read when the first micro-batch
    plans, after ``start()`` returns, so the block must enclose the
    whole drain. Use only with a fresh checkpoint: a resumed one keeps
    the count it recorded.
    """
    default = int(spark.conf.get("spark.sql.shuffle.partitions"))
    n_bytes = 0
    for root, _dirs, files in os.walk(src_dir):
        for f in files:
            try:
                n_bytes += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    per = max(1, int(mb_per_partition * (1 << 20)))
    # min last, so a session default below the floor is never raised
    parts = min(default, max(4, -(-n_bytes // per)))
    if parts == default:
        yield
        return
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", str(default))


def start(writer: DataStreamWriter, checkpoint: str) -> StreamingQuery:
    """Start ``writer`` as an availableNow query: it processes what the
    source holds at start, then stops. ``checkpoint`` gives
    restart-at-offset recovery (the offset-flush analog,
    prod-resources.yaml:20)."""
    return (
        writer.option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def drain(
    writer: DataStreamWriter, checkpoint: str, name: str, timeout_s: int = 300
) -> StreamingQuery:
    """``start`` the query and wait until it has drained. A failed query
    raises its ``StreamingQueryException``; one still running after
    ``timeout_s`` is stopped and raises ``TimeoutError`` naming it."""
    q = start(writer, checkpoint)
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(f"{name}: stream did not drain in {timeout_s}s")
    return q


def lane_dir(lane: str, sf_dir: str) -> str:
    """Empty per-(lane, fixture) scratch dir. The path is deterministic,
    so repeated runs reuse one dir instead of growing state."""
    h = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    d = os.path.join("/tmp", "cdc_debezium_gate", lane, h)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d, exist_ok=True)
    return d


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
                shutil.copyfile(src_path, path)
                os.utime(path, (t0 + seq, t0 + seq))
                seq += 1
                total += rows
        shutil.rmtree(staging, ignore_errors=True)
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


def write_redelivered_chunks(
    df: DataFrame,
    key: str,
    out_dir: str,
    options: dict[str, object] | None = None,
) -> None:
    """Stage ``df`` as 3 chunk dirs, rows split on ``key % 3``, each
    delivered twice: written once through Spark as one file (never
    collected to the driver), then copied byte for byte for the
    redelivery. Files get strictly increasing
    mtimes in delivery order, the ``write_event_chunks`` guarantee.
    ``options`` go to the parquet writer."""
    t0 = time.time() - 10
    for i in range(3):
        first = f"{out_dir}/chunk_{i:04d}_0"
        (
            df.where(F.col(key) % 3 == i)
            .coalesce(1)
            .write.mode("overwrite")
            .options(**(options or {}))
            .parquet(first)
        )
        for r in range(2):
            path = f"{out_dir}/chunk_{i:04d}_{r}"
            if r:
                shutil.copytree(first, path)
            stamp = t0 + 2 * i + r
            for f in os.listdir(path):
                os.utime(os.path.join(path, f), (stamp, stamp))


def read_event_stream(spark: SparkSession, chunk_dir: str) -> DataFrame:
    """One chunk file per micro-batch (the Kafka-trigger analog)."""
    return (
        spark.readStream.schema(EVENT_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(chunk_dir)
    )
