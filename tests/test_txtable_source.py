"""Python Data Source (Spark 4) over the native transaction-log
table: batch time travel by format name, append-tail streaming with
version offsets, append-only enforcement."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from cdc_debezium_spark.sources.txtable_source import TxTableDataSource
from cdc_debezium_spark.streaming.replay import drain
from cdc_debezium_spark.streaming.txlog import TxTable


@pytest.fixture()
def registered(spark):
    spark.dataSource.register(TxTableDataSource)
    return spark


def _mk_table(spark, path, n_commits=3):
    t = TxTable(spark, path)
    for i in range(n_commits):
        t.append(
            spark.createDataFrame(
                [(i * 10 + j, f"v{i}.{j}") for j in range(3)],
                "pk long, v string",
            )
        )
    return t


def test_batch_read_and_time_travel_by_format_name(registered, tmp_path):
    spark = registered
    path = str(tmp_path / "tx")
    t = _mk_table(spark, path)

    got = spark.read.format("txtable").option("path", path).load()
    want = t.snapshot()
    assert sorted((r.pk, r.v) for r in got.collect()) == sorted(
        (r.pk, r.v) for r in want.collect()
    )
    assert got.schema == want.schema

    v0 = (
        spark.read.format("txtable")
        .option("path", path)
        .option("version", 0)
        .load()
    )
    assert sorted((r.pk, r.v) for r in v0.collect()) == sorted(
        (r.pk, r.v) for r in t.snapshot(0).collect()
    )


def test_stream_tails_appends_with_version_offsets(registered, tmp_path):
    spark = registered
    path = str(tmp_path / "txs")
    t = _mk_table(spark, path, n_commits=2)

    out = str(tmp_path / "out")
    cp = str(tmp_path / "cp")

    def run_once():
        drain(
            spark.readStream.format("txtable")
            .option("path", path)
            .load()
            .writeStream.format("parquet")
            .option("path", out),
            cp,
            "txtable tail",
        )

    run_once()
    got = spark.read.parquet(out)
    assert got.count() == 6  # both commits delivered

    # new commits after the checkpoint: ONLY the tail is delivered
    t.append(spark.createDataFrame([(99, "tail")], "pk long, v string"))
    run_once()
    got = spark.read.parquet(out)
    assert got.count() == 7
    assert got.where(F.col("pk") == 99).count() == 1

    # re-running with nothing new delivers nothing
    run_once()
    assert spark.read.parquet(out).count() == 7


def test_stream_rejects_rewriting_commits(registered, tmp_path):
    spark = registered
    path = str(tmp_path / "txo")
    t = _mk_table(spark, path, n_commits=1)
    t.overwrite(spark.createDataFrame([(1, "x")], "pk long, v string"))

    writer = (
        spark.readStream.format("txtable")
        .option("path", path)
        .load()
        .writeStream.format("memory")
        .queryName("txo_tail")
    )
    # Assert OUTSIDE pytest.raises: a fallback message that itself
    # matched the raises pattern would make the check vacuous — a
    # stream that drains cleanly must FAIL here.
    exc: Exception | None = None
    try:
        exc = drain(writer, str(tmp_path / "cp"), "txo_tail").exception()
    except Exception as e:  # noqa: BLE001 - StreamingQueryException
        exc = e
    assert exc is not None, (
        "stream consumed a rewriting commit without raising; "
        "append-only enforcement is broken"
    )
    assert "append-only" in str(exc), f"unexpected failure: {exc}"
