"""SparkSession construction and runtime tuning.

The driver (and any host application) may hand us an already-built
session, so every conf we depend on for *correctness* must be settable
at runtime — they are applied in :func:`tune` and invoked from the
table loader, not only at build time.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PACKAGE_PARENT = os.path.dirname(
    os.path.dirname(os.path.abspath(__file__))
)

# Confs that are safe to set on a live session and that the engine
# depends on. Keep this list minimal and documented.
RUNTIME_CONFS: dict[str, str] = {
    # testdata events.parquet stores TIMESTAMP(NANOS); Spark has no ns
    # timestamp type — read as raw int64 ns and convert with integer
    # division (see sources.catalog.load_table).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Deterministic wall-clock semantics for timestamp<->ntz casts.
    "spark.sql.session.timeZone": "UTC",
    # Runtime re-planning: partition coalescing, skew-join splitting,
    # broadcast conversion — the core of the 100 TB posture.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow transfer for every Pandas UDF / toPandas path.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an existing session (idempotent)."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # A host may have pinned a conf as static; never fail here.
            pass
    return spark


def _extra_confs() -> dict[str, str]:
    """Optional static-conf overrides (SPARK_GRAFT_CONFS="k=v;k=v"),
    for settings that must be present at JVM build time and are
    scale-dependent, so they cannot be session defaults: the r16 sf100
    pair-family probe sets spark.io.compression.codec=zstd (shuffle
    files ~1.4x smaller than lz4) and
    spark.cleaner.periodicGC.interval=1min (a long multi-job lineage
    keeps every dereferenced shuffle on disk for up to the default
    30min GC period — the probe's accumulated ~38 GB of exchanges
    exhausted a 79 GB scratch disk with the defaults). Applied after
    the builder's own confs, so it overrides them, e.g.
    SPARK_GRAFT_CONFS="spark.ui.enabled=true;spark.driver.memory=24g;spark.sql.shuffle.partitions=64;spark.driver.extraJavaOptions=-Xss64m".
    No env var -> empty dict -> the builder is unchanged; perfbench
    sets it to keep a run's files under its work dir."""
    extra = os.environ.get("SPARK_GRAFT_CONFS", "")
    out: dict[str, str] = {}
    for kv in filter(None, (p.strip() for p in extra.split(";"))):
        k, _, v = kv.partition("=")
        if k.strip() and v.strip():
            out[k.strip()] = v.strip()
    return out


def get_spark(
    app_name: str = "cdc-debezium-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a tuned local session.

    Defaults mirror the reference's parallelism: 12 topic partitions in
    prod (reference prod-resources.yaml:94-95) scale to
    ``spark.sql.shuffle.partitions`` here; at local test scale we use
    the core count.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions or int(cpus)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Python workers unpickle UDFs that reference this package;
        # PySpark copies spark.executorEnv.* into the worker env, so
        # they import it from here whatever the driver's cwd.
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    )
    for k, v in _extra_confs().items():
        builder = builder.config(k, v)
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return tune(builder.getOrCreate())
