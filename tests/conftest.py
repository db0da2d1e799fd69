from __future__ import annotations

import os
import sys
from contextlib import contextmanager

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

from cdc_debezium_spark import registry  # noqa: E402

registry.load_all()


@pytest.fixture(scope="session")
def spark():
    from cdc_debezium_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    spark = get_spark(app_name="cdc-spark-tests", shuffle_partitions=8)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def above_one_task_gate(spark):
    """A context manager that sets the advisory partition size, the
    gate of TxTable's one-task rule, below any table's bytes, so
    snapshots read with their hash-exchange plans. Restored on exit."""
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"

    @contextmanager
    def above():
        old = spark.conf.get(key, None)
        spark.conf.set(key, "1b")
        try:
            yield
        finally:
            if old is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, old)

    return above


@pytest.fixture(autouse=True)
def no_stream_outlives_its_test():
    """Fail a test that leaves a streaming query running, after stopping
    it so it cannot leak into later tests. Looks only at a session that
    already exists, so Spark-free tests start no JVM."""
    yield
    from pyspark.sql import SparkSession

    session = SparkSession.getActiveSession()
    if session is None:
        return
    left = session.streams.active
    for q in left:
        q.stop()
    if left:
        names = [q.name or str(q.id) for q in left]
        pytest.fail(f"test left {len(left)} streaming queries running: {names}")
