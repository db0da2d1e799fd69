"""Table catalog: batch readers over the test parquet fixtures.

Stands in for the reference's Schema Registry + per-table Kafka topics
(reference values.yaml:63-69, prod-resources.yaml:94-95): one logical
table per name, schema known to the engine, storage columnar.

How the schema is known: the first read of a fixture file infers it
through Spark (one schema-inference job), and the resulting StructType
is memoized per path together with the file's (st_size, st_mtime_ns).
Every later read of the same file version passes it to
``spark.read.schema(...)`` and launches no job; a rewritten file no
longer matches its entry and is inferred again. The memo holds
schemas only, never data: persisted frames stay owned by Spark's cache
manager.

At 100 TB each of these would be a partitioned parquet/iceberg table or
a Kafka topic; the loader API is the single seam where that swap
happens — every operator downstream is storage-agnostic.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from ..session import tune

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# path -> ((st_size, st_mtime_ns), schema): one entry per file, the
# latest version read.
_SCHEMAS: dict[str, tuple[tuple[int, int], StructType]] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema memoized per file
    version, so only the first read of a file runs Spark's inference."""
    st = os.stat(path)
    key, version = os.path.abspath(path), (st.st_size, st.st_mtime_ns)
    memo = _SCHEMAS.get(key)
    if memo is not None and memo[0] == version:
        return spark.read.schema(memo[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = (version, df.schema)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table; normalize the `events` stream table.

    `events.ts` is parquet TIMESTAMP(NANOS): with the nanosAsLong
    legacy conf it arrives as int64 ns. We derive
      - ``ts_us``  : int64 epoch microseconds (exact: integer division —
                     double division would lose precision at ~1.7e18)
      - ``ts``     : timestamp_ntz at microsecond precision
    matching the reference's microsecond time mode
    (postgresql-connector.yaml:49 adaptive_time_microseconds) and
    DuckDB's ns→µs truncation on the oracle side.
    """
    from ..functions.scalars import micros_to_ts, ns_to_us, ts_to_micros

    tune(spark)
    df = _read_parquet(spark, f"{sf_dir}/{name}.parquet")
    if name == "events":
        dtypes = dict(df.dtypes)
        if dtypes.get("ts") == "bigint":
            df = df.withColumn("ts_us", ns_to_us("ts"))
        else:  # already a timestamp type (µs)
            df = df.withColumn("ts_us", ts_to_micros("ts"))
        df = df.withColumn(
            "ts", micros_to_ts(F.col("ts_us")).cast("timestamp_ntz")
        )
        df = df.select("event_id", "ts", "ts_us", "user_id", "event_type", "value", "props")
    return df


def register_views(spark: SparkSession, sf_dir: str, names: list[str] | None = None) -> None:
    """Register fixture tables as temp views for spark.sql access."""
    for name in names or TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
