"""Reads of the merge-on-read sinks in ``streaming.state``.

A snapshot under TxTable's one-task gate is read as one partition and
folded with no exchange; above it the folds hash-partition on the
keys. Both regimes must return the same rows. A read of a sink that
was never written raises and leaves nothing on disk.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Row

from cdc_debezium_spark.plans.inspect import count_shuffles
from cdc_debezium_spark.streaming.state import (
    DeltaUpsertSink,
    Scd2DeltaHistorySink,
)
from cdc_debezium_spark.streaming.txlog import TxTable

CDC = "pk long, ts_us long, ord2 long, op string, val double"

BATCHES = [
    # inserts
    [(k, 10, 0, "c", float(k)) for k in range(1, 7)],
    # updates; pk 1 and pk 2 tie on ts_us, ord2 breaks the tie
    [(1, 20, 1, "u", 10.0), (1, 20, 2, "u", 11.0), (2, 20, 5, "u", 20.0),
     (2, 20, 4, "u", 21.0), (5, 15, 1, "u", 50.0)],
    # tombstones
    [(3, 30, 1, "d", None), (4, 30, 1, "d", None)],
]
AFTER_COMPACTION = [
    (1, 5, 9, "u", 999.0),   # older than pk 1's compacted winner
    (3, 25, 7, "u", 333.0),  # older than pk 3's tombstone
    (5, 40, 3, "u", 55.0),
    (6, 40, 1, "d", None),
    (7, 40, 0, "c", 7.0),
]


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _run_sinks(spark, path):
    """Feed both sinks the batches, a redelivery, a compaction and a
    last batch with late rows; return every read the parity test
    compares."""
    live = DeltaUpsertSink(str(path / "live"), keys=["pk"])
    hist = Scd2DeltaHistorySink(str(path / "hist"), keys=["pk"])
    frames = [spark.createDataFrame(b, CDC) for b in BATCHES]
    for batch_id, df in enumerate([*frames, frames[1]]):  # redelivered
        live(df, batch_id)
        hist(df, batch_id)
    first = live.compact(spark)
    hist.compact(spark)
    out = {
        "compacted_live": _rows(TxTable(spark, live.path).snapshot()),
        "compacted_hist": _rows(TxTable(spark, hist.path).snapshot()),
    }
    last = spark.createDataFrame(AFTER_COMPACTION, CDC)
    live(last, len(frames) + 1)
    hist(last, len(frames) + 1)
    second = live.compact(spark)
    changes = TxTable(spark, live.path).table_changes(first, second)
    out.update(
        read_live=_rows(live.read_live(spark)),
        read_history=_rows(hist.read_history(spark)),
        table_changes=_rows(changes),
        shuffles=count_shuffles(live.read_live(spark)),
    )
    return out


def test_reads_agree_across_the_one_task_gate(spark, tmp_path, above_one_task_gate):
    small = _run_sinks(spark, tmp_path / "small")
    with above_one_task_gate():
        large = _run_sinks(spark, tmp_path / "large")
    assert (small.pop("shuffles"), large.pop("shuffles")) == (0, 1)
    assert small == large

    live = {r[0]: r for r in small["read_live"]}
    assert sorted(live) == [1, 2, 5, 7]  # tombstones hold against late rows
    assert live[1] == (1, 20, 2, "u", 11.0)  # ord2 breaks the ts_us tie
    assert live[2] == (2, 20, 5, "u", 20.0)
    assert live[5] == (5, 40, 3, "u", 55.0)
    assert sorted((r[0], r[-1]) for r in small["table_changes"]) == [
        (5, "update_postimage"), (5, "update_preimage"),
        (6, "update_postimage"), (6, "update_preimage"), (7, "insert"),
    ]
    # the redelivered batch leaves one history row per (pk, ord2)
    keys = [(r[0], r[2]) for r in small["read_history"]]
    assert len(keys) == len(set(keys)) == 6 + 5 + 2 + 5


def test_read_of_a_missing_sink_creates_nothing(spark, tmp_path):
    path = tmp_path / "never_written"
    live = DeltaUpsertSink(str(path))
    assert live.current_state(spark) is None
    with pytest.raises(FileNotFoundError):
        live.read_live(spark)
    with pytest.raises(FileNotFoundError):
        Scd2DeltaHistorySink(str(path)).read_history(spark)
    assert TxTable(spark, str(path)).latest_version() == -1
    assert not os.path.exists(path)
