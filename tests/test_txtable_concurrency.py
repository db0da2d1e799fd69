"""TxTable under CONCURRENT writers and readers.

The single-writer drills in test_streaming prove the conflict checks
fire when versions are stale; these prove the documented contract
holds when two real threads race past each other's read version:

  append  vs append     — blind adds never conflict: both rebase onto
                          whatever version the other claimed.
  append  vs compaction — the compaction that read a version the
                          append has since advanced past rebases over
                          it: both land, the appended rows stay live.
  compaction vs compaction — both read the same version and remove
                          the same files; the os.link claim guarantees
                          exactly one winner, the loser raises
                          CommitConflict.
  read_live vs compaction — a sink read planned before a compaction
                          and run after it still finds every file.

Interleavings are forced with threading barriers/events — no sleeps:
the test FAILS (deadlock timeout) rather than silently passing if the
synchronization contract changes. Reference parity: Debezium sinks
land on stores with exactly this WriteSerializable optimistic
behavior (Delta MERGE); reference deploys declare the warehouse sink
at README.md:48-51.
"""

from __future__ import annotations

import os
import threading

from cdc_debezium_spark.operators.cdc import latest_state
from cdc_debezium_spark.streaming.state import DeltaUpsertSink
from cdc_debezium_spark.streaming.txlog import CommitConflict, TxTable

WAIT = 120  # generous barrier timeout: only ever hit on a real bug


def _rows(t, version=None):
    return {(r.pk, r.v) for r in t.snapshot(version).collect()}


class GatedTable(TxTable):
    """TxTable whose FIRST latest_version() read per operation can be
    fenced: after reading the base version, signal `read_done` and
    block on `resume` — letting the test commit something else in the
    window between a transaction's read and its commit attempt."""

    def __init__(self, spark, path, read_done=None, resume=None):
        super().__init__(spark, path)
        self._read_done = read_done
        self._resume = resume
        self._armed = True

    def latest_version(self):
        v = super().latest_version()
        if self._armed and self._read_done is not None:
            self._armed = False
            self._read_done.set()
            assert self._resume.wait(WAIT), "resume event never fired"
        return v


def test_concurrent_appends_both_rebase(spark, tmp_path):
    """Two threads race append(): adds never conflict, so both must
    commit (distinct versions) and the final table holds both rows."""
    path = str(tmp_path / "tx")
    TxTable(spark, path).append(
        spark.createDataFrame([(0, "base")], "pk long, v string")
    )
    barrier = threading.Barrier(2, timeout=WAIT)
    results, errors = {}, {}

    def worker(name, pk):
        try:
            t = TxTable(spark, path)
            df = spark.createDataFrame([(pk, name)], "pk long, v string")
            staged = t._stage(df)  # stage before the barrier: both
            barrier.wait()         # then race latest_version+_try_commit
            while True:
                v = t.latest_version() + 1
                if t._try_commit(v, staged, []):
                    results[name] = v
                    return
        except Exception as ex:  # noqa: BLE001 - surfaced by assert
            errors[name] = f"{type(ex).__name__}: {ex}"

    threads = [
        threading.Thread(target=lambda: worker("a", 1)),
        threading.Thread(target=lambda: worker("b", 2)),
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join(WAIT)
        assert not th.is_alive(), "append worker deadlocked"
    assert not errors, errors
    assert sorted(results.values()) == [1, 2]  # both committed, no gap
    t = TxTable(spark, path)
    assert _rows(t) == {(0, "base"), (1, "a"), (2, "b")}


CDC = "pk long, v string, op string, ts_us long, ord2 long"


def _fold(df):
    return latest_state(df, keys=["pk"], order=["ts_us", "ord2"], drop_deleted=False)


def test_compaction_rebases_over_interleaved_append(spark, tmp_path):
    """A compaction that read version N finds N+1 claimed by an append
    inside its read->commit window. Appends remove no file, so it
    rebases: both commits land, the appended files stay live and only
    the files the compaction read are removed."""
    path = str(tmp_path / "tx")
    TxTable(spark, path).append(
        spark.createDataFrame([(1, "old", "c", 0, 0), (1, "new", "u", 10, 0)], CDC)
    )
    read_done, resume = threading.Event(), threading.Event()
    gated = GatedTable(spark, path, read_done=read_done, resume=resume)
    outcome, errors = {}, {}

    def compactor():
        try:
            outcome["version"] = gated.compact(_fold)
        except Exception as ex:  # noqa: BLE001 - surfaced by assert
            errors["compactor"] = f"{type(ex).__name__}: {ex}"
            resume.set()  # never leave the main thread blocked

    th = threading.Thread(target=compactor)
    th.start()
    # the compaction has read its version and is paused; advance the table
    assert read_done.wait(WAIT), "compaction never read its version"
    TxTable(spark, path).append(spark.createDataFrame([(2, "mid", "c", 5, 0)], CDC))
    resume.set()
    th.join(WAIT)
    assert not th.is_alive(), "compaction worker deadlocked"
    assert not errors, errors
    t = TxTable(spark, path)
    assert outcome == {"version": 2}
    log = t.history()
    assert log[2]["remove"] == log[0]["add"]
    assert set(t._files_at(2)) == set(log[1]["add"]) | set(log[2]["add"])
    assert _rows(t) == {(1, "new"), (2, "mid")}


def test_concurrent_compactions_one_wins_one_conflicts(spark, tmp_path):
    """Two compactions read the SAME version and race for the next:
    exactly one commits, the other finds the files it folded removed
    and raises CommitConflict; the table holds the winner's fold."""
    path = str(tmp_path / "tx")
    t = TxTable(spark, path)
    t.append(spark.createDataFrame([(1, "seed", "c", 0, 0)], CDC))
    t.append(spark.createDataFrame([(1, "next", "u", 10, 0), (2, "b", "c", 1, 0)], CDC))
    barrier = threading.Barrier(2, timeout=WAIT)
    outcome, errors = {}, {}

    class BarrierTable(TxTable):
        def latest_version(self):
            v = super().latest_version()
            if not getattr(self, "_released", False):
                self._released = True
                barrier.wait()  # both compactions hold the same version
            return v

    def worker(name):
        try:
            try:
                BarrierTable(spark, path).compact(_fold)
                outcome[name] = "committed"
            except CommitConflict:
                outcome[name] = "conflict"
        except Exception as ex:  # noqa: BLE001 - surfaced by assert
            errors[name] = f"{type(ex).__name__}: {ex}"

    threads = [threading.Thread(target=worker, args=(n,)) for n in "ab"]
    for th in threads:
        th.start()
    for th in threads:
        th.join(WAIT)
        assert not th.is_alive(), "compaction worker deadlocked"
    assert not errors, errors
    assert sorted(outcome.values()) == ["committed", "conflict"]
    assert t.latest_version() == 2
    assert _rows(t) == {(1, "next"), (2, "b")}
    assert t.snapshot().count() == 2  # folded to one row per key


def test_conflicted_upsert_leaves_no_torn_state(spark, tmp_path):
    """A losing writer must not leave the table torn: the snapshot at
    every committed version reads exactly what its commit wrote, and
    vacuum() reclaims the loser's orphaned staged files."""
    path = str(tmp_path / "tx")
    t = TxTable(spark, path)
    t.append(spark.createDataFrame([(1, "x")], "pk long, v string"))

    # simulate the loser: stage files, fail to claim an already-taken
    # version (the exact path a raced _try_commit takes)
    orphan = t._stage(spark.createDataFrame([(9, "loser")], "pk long, v string"))
    assert not t._try_commit(0, orphan, [])  # v0 already committed
    assert _rows(t) == {(1, "x")}  # reader never sees the orphan

    import os

    live_before = set(os.listdir(t.file_dir))
    assert set(orphan) <= live_before
    t.vacuum(retain_versions=1)
    live_after = set(os.listdir(t.file_dir))
    assert not (set(orphan) & live_after), "orphaned stage not reclaimed"
    assert _rows(t) == {(1, "x")}


def test_read_live_never_loses_a_file_to_compaction(spark, tmp_path):
    """A reader thread plans ``read_live`` (Spark fixes its file list),
    the sink then appends a batch and, every second batch, compacts;
    only then does the reader collect. Through seven compactions no
    read may fail, and each must return the latest state of exactly
    the batches committed before it was planned. The compactions must
    still delete what they remove: the table does not just grow."""
    sink = DeltaUpsertSink(str(tmp_path / "live"), keys=["pk"], compact_every=2)
    n_keys, n_batches = 6, 15
    batches = [
        [(k, f"v{b}", "d" if (b + k) % 5 == 0 else "u", b * 10 + k, b) for k in range(n_keys)]
        for b in range(n_batches)
    ]
    prefix_state = []  # latest live (pk, v) per key after batches[:i + 1]
    latest: dict = {}
    for rows in batches:
        latest.update({r[0]: r for r in rows})
        prefix_state.append({(r[0], r[1]) for r in latest.values() if r[2] != "d"})

    planned = threading.Barrier(2, timeout=WAIT)
    committed = threading.Barrier(2, timeout=WAIT)
    reads, errors = [], []

    def reader():
        for i in range(1, n_batches):
            df = None
            try:
                df = sink.read_live(spark)
            except Exception as ex:  # noqa: BLE001 - surfaced by assert
                errors.append(f"plan {i}: {type(ex).__name__}: {ex}")
            planned.wait()
            committed.wait()
            try:
                if df is not None:
                    reads.append((i, {(r.pk, r.v) for r in df.collect()}))
            except Exception as ex:  # noqa: BLE001 - surfaced by assert
                errors.append(f"read {i}: {type(ex).__name__}: {ex}")

    sink(spark.createDataFrame(batches[0], CDC), 0)
    th = threading.Thread(target=reader)
    th.start()
    try:
        for i in range(1, n_batches):
            planned.wait()
            sink(spark.createDataFrame(batches[i], CDC), i)
            committed.wait()
    except BaseException:
        planned.abort()  # release the reader, then surface the error
        committed.abort()
        raise
    finally:
        th.join(WAIT)
    assert not th.is_alive(), "reader deadlocked"
    assert not errors, errors

    t = TxTable(spark, sink.path)
    assert sum(1 for e in t.history() if e["remove"]) >= 6
    assert [i for i, _ in reads] == list(range(1, n_batches))
    for i, got in reads:
        assert got == prefix_state[i - 1], f"read planned after batch {i - 1}"
    committed_files = {n for e in t.history() for n in e["add"]}
    assert len(os.listdir(t.file_dir)) < len(committed_files)
