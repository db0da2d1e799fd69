"""Reads of the merge-on-read sinks in ``streaming.state``.

A snapshot under TxTable's one-task gate is read as one partition and
folded with no exchange; above it the folds hash-partition on the
keys. Both regimes must return the same rows. A read of a sink that
was never written raises and leaves nothing on disk.
"""

from __future__ import annotations

import json
import os
import sys
import threading

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


# --- reads reuse the held log state and the last read built on it ------


@pytest.fixture
def opened(monkeypatch):
    """The log versions TxTable opens, in order, while the test runs."""
    versions = []
    entry = TxTable._entry

    def counted(self, version):
        e = entry(self, version)
        versions.append(version)
        return e

    monkeypatch.setattr(TxTable, "_entry", counted)
    return versions


def _upserts(spark, pks, ts):
    return spark.createDataFrame(
        [(pk, ts, 0, "u", float(pk * ts)) for pk in pks], CDC
    )


@pytest.mark.parametrize("read", ["read_live", "read_history"])
def test_read_is_reused_until_the_table_or_session_changes(
    spark, tmp_path, above_one_task_gate, opened, read
):
    """While the session, the log version and the side of the one-task
    gate hold, a read returns the DataFrame the last one built and
    opens no log entry. A commit, a compaction, the gate and a new
    session each build a new read, which returns what a fresh sink
    over the same path reads, in the plan regime of its side of the
    gate."""
    sink_type = DeltaUpsertSink if read == "read_live" else Scd2DeltaHistorySink
    path = str(tmp_path / read)
    sink = sink_type(path, keys=["pk"])
    sink(_upserts(spark, range(5), 10), 0)
    sink(_upserts(spark, range(3), 20), 1)

    def check(df, session=spark, shuffles=0):
        fresh = getattr(sink_type(path, keys=["pk"]), read)(session)
        assert _rows(df) == _rows(fresh)
        assert count_shuffles(df) == shuffles
        assert df.sparkSession is session
        return {r.pk for r in df.collect()}

    first = getattr(sink, read)(spark)
    check(first)
    opened.clear()
    assert getattr(sink, read)(spark) is first
    assert opened == []

    sink(_upserts(spark, [7], 30), 2)
    appended = getattr(sink, read)(spark)
    assert appended is not first
    assert 7 in check(appended)

    assert sink.compact(spark) == 3
    compacted = getattr(sink, read)(spark)
    assert compacted is not appended
    assert check(compacted) == {0, 1, 2, 3, 4, 7}

    with above_one_task_gate():
        above = getattr(sink, read)(spark)
        assert above is not compacted
        check(above, shuffles=1)
    below = getattr(sink, read)(spark)
    assert below is not above
    check(below)

    other = spark.newSession()
    in_other = getattr(sink, read)(other)
    assert in_other is not below
    check(in_other, session=other)
    assert getattr(sink, read)(other) is in_other


def _commit(v):
    """The files version `v` adds and removes: each version adds one
    file, and every fourth also removes every file live before it, as
    a compaction does."""
    remove = [f"f{w}" for w in range(max(v - 4, 0), v)] if v % 4 == 3 else []
    return [f"f{v}"], remove


def _live_at(v):
    last_compaction = v - (v + 1) % 4
    return [f"f{w}" for w in range(max(last_compaction, 0), v + 1)]


def _write_log(path, versions):
    """Commit `versions` (see _commit) straight to a TxTable log."""
    log_dir = os.path.join(path, "_txlog")
    os.makedirs(log_dir, exist_ok=True)
    for v in versions:
        add, remove = _commit(v)
        entry = {"version": v, "add": add, "remove": remove}
        if v == 0:
            entry["schema"] = {"type": "struct", "fields": []}
        with open(os.path.join(log_dir, f"{v:010d}.json"), "w") as f:
            json.dump(entry, f)


def test_held_log_opens_only_new_entries(tmp_path, opened, monkeypatch):
    """A cold start lists a 10,000-commit log once and opens each entry
    once; after one more commit the held state opens exactly that
    entry, and with none it opens nothing. No Spark session is used."""
    path = str(tmp_path / "log")
    _write_log(path, range(10_000))
    listed = []
    listdir = os.listdir
    monkeypatch.setattr(os, "listdir", lambda p: listed.append(p) or listdir(p))
    t = TxTable(None, path)

    assert t.latest_version() == 9_999
    assert opened == list(range(10_000))
    assert len(listed) == 1

    _write_log(path, [10_000])
    opened.clear()
    state = t.state()
    assert opened == [10_000]
    assert (state.version, state.compacted) == (10_000, 9_999)
    assert list(state.files) == _live_at(10_000) == ["f9999", "f10000"]

    opened.clear()
    assert t.state() is state
    assert opened == []
    assert len(listed) == 1
    assert list(t.state(4).files) == _live_at(4) == ["f3", "f4"]  # time travel


def test_held_log_under_concurrent_readers_and_a_writer(tmp_path):
    """Readers sharing one TxTable with a committing writer see versions
    that never go back, and every state holds exactly the files of its
    version: an advance lost to a race would break one or the other."""
    t = TxTable(None, str(tmp_path / "log"))
    n_versions, n_readers = 300, 8
    done = threading.Event()
    errors = []

    def writer():
        try:
            for v in range(n_versions):
                assert t._try_commit(v, *_commit(v))
        except Exception as ex:  # noqa: BLE001 - surfaced by assert
            errors.append(f"writer: {type(ex).__name__}: {ex}")
        finally:
            done.set()

    def reader():
        seen, last = -1, False
        try:
            while not last:
                last = done.is_set()  # one more read after the writer ends
                state = t.state()
                assert state.version >= seen, (state.version, seen)
                assert list(state.files) == _live_at(state.version)
                seen = state.version
        except Exception as ex:  # noqa: BLE001 - surfaced by assert
            errors.append(f"reader: {type(ex).__name__}: {ex}")

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=reader) for _ in range(n_readers)]
        threads.append(threading.Thread(target=writer))
        for th in threads:
            th.start()
        for th in threads:
            th.join(120)
            assert not th.is_alive(), "reader or writer hung"
    finally:
        sys.setswitchinterval(interval)
    assert not errors, errors
    assert t.latest_version() == n_versions - 1


def test_scd2_batch_that_does_not_compact_opens_only_its_own_entry(
    spark, tmp_path, opened
):
    """The size-ratio trigger reads the held state: a batch that does
    not compact opens its own commit and no older entry."""
    sink = Scd2DeltaHistorySink(str(tmp_path / "hist"), keys=["pk"], compact_ratio=1.0)
    sink(_upserts(spark, range(2_000), 10).coalesce(1), 0)  # no base: compacts
    assert TxTable(spark, sink.path).latest_version() == 1
    for batch_id, v in ((1, 2), (2, 3)):
        opened.clear()
        sink(_upserts(spark, [batch_id], 20 + batch_id), batch_id)
        assert opened == [v]
    assert TxTable(spark, sink.path).state().compacted == 1
