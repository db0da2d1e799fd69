"""Minimal log-structured table format: ACID commits over parquet.

The reference's sinks assume a transactional upsert store
(README.md:48-51 — Redis/ES/DW); OSS parquet directories give none of
that. This module is the core idea of the public Delta/Iceberg designs
(an append-only transaction log of immutable data files) in a
dependency-free form, and it is the only storage layout under the
upsert sinks in ``streaming.state``:

- data files are IMMUTABLE parquet files under ``files/``, named by
  commit uuid; they are never modified or moved after creation
- a table version is a JSON entry ``_txlog/<version>.json`` listing
  files added and removed; the entry is created ATOMICALLY
  (tmp + fsync + ``os.link``, which fails if the version exists), so
  readers see either version N or N+1, never a partial state
- version 0 records the table schema, as Delta's metaData action does,
  and an overwrite records the schema it writes; snapshots read with
  it, so no read infers a schema through a Spark job
- reads resolve a SNAPSHOT: replay the log to the requested (or
  latest) version, hand Spark the immutable file list. A concurrent
  commit cannot disturb an in-flight read; old versions remain
  readable (time travel) until vacuumed
- HELD STATE: a ``TxTable`` keeps the replayed log (``LogState``:
  version, live files with the version that added each, schema, last
  compaction) and advances it by opening only the entries after the
  version it holds, ``<v+1>.json`` until one is missing; a cold start
  lists the log once. Entries are immutable, so the state cannot go
  stale, and it is built only from entries on disk, never from the
  write path: a commit or vacuum that raises cannot advance it. The
  byte size of a live file is stat'ed once. The state advances under
  a lock, since a sink's reader thread and its stream thread share one
  table; ``on(spark)`` gives a view that reads through another session
  and shares the held state. Only an older version (time travel) is
  replayed from version 0. The log needs no Spark session
- ONE-TASK RULE: a snapshot whose live files total less than one
  advisory partition (``spark.sql.adaptive.advisoryPartitionSizeInBytes``,
  against the byte sizes of the files the log names) is read as one
  partition. One partition satisfies every per-key clustering, so a
  keyed fold over it (latest-per-key window, dedup, interval window,
  the ``snapshot_changes`` join) plans no exchange and runs as one
  stage in one task. Above the gate a read keeps its parallelism, and
  a keyed fold pays one hash exchange; a reader whose fold needs one
  clustering for two operators passes it as ``cluster_by``. ``snapshot``,
  ``compact`` and ``table_changes`` all read through this gate
- the table's directories are created by its first commit, so a read
  of a missing table leaves nothing behind
- writers use OPTIMISTIC concurrency: stage files, then try to claim
  the next version. ``append`` rebases on collision (blind adds never
  conflict). ``compact`` rebases over every commit that left the files
  it folded live, and raises CommitConflict if another rewrite removed
  one of them first. ``overwrite`` raises CommitConflict if the table
  advanced past the snapshot it read — Delta's WriteSerializable
  behavior for conflicting transactions
- a crash between staging and commit leaves orphan data files that no
  log entry references; ``vacuum`` removes them plus files only
  referenced by dropped versions

At 100 TB the log is KBs per commit and the data plane is untouched
parquet — the same reason the real formats scale. Swapping this for
Delta/Iceberg is a constructor change for every consumer in this
repo.
"""

from __future__ import annotations

import copy
import json
import os
import threading
import uuid
from collections.abc import Callable, Collection, Iterable, Sequence
from dataclasses import dataclass, field

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


class CommitConflict(Exception):
    """The table advanced past the snapshot this transaction read."""


def snapshot_changes(
    old: DataFrame, new: DataFrame, keys: Sequence[str] = ("pk",)
) -> DataFrame:
    """Row-level change feed between two keyed snapshots — the Delta
    CHANGE DATA FEED contract (`table_changes`) computed from state
    rather than logged at write time: every output row is the old/new
    snapshot row plus `_change_type` in {insert, delete,
    update_preimage, update_postimage}; unchanged keys emit nothing.

    One full-outer sort-merge join on the key columns, a null-safe
    struct comparison over the value columns (so NULL -> value and
    value -> NULL count as updates), then pre/post expansion via an
    inline explode of a 2-array — changed keys only, no second join,
    no extra shuffle. At 100 TB this is the standard snapshot-
    reconciliation shape: both sides shuffle once on the key, and the
    downstream explode touches only the (small) changed subset. Two
    one-partition sides (TxTable snapshots under the one-task gate)
    join in one task with no shuffle.
    """
    val_cols = [c for c in new.columns if c not in keys]
    kcols = list(keys)
    o = old.select(*kcols, F.struct(*val_cols).alias("_old"))
    n = new.select(*kcols, F.struct(*val_cols).alias("_new"))
    j = o.join(n, kcols, "full_outer")
    ins = F.col("_old").isNull()
    dele = F.col("_new").isNull()
    upd = ~ins & ~dele & ~F.col("_old").eqNullSafe(F.col("_new"))
    changed = j.where(ins | dele | upd)
    img = F.when(
        ins, F.array(F.struct(F.col("_new").alias("row"), F.lit("insert").alias("ct")))
    ).when(
        dele, F.array(F.struct(F.col("_old").alias("row"), F.lit("delete").alias("ct")))
    ).otherwise(
        F.array(
            F.struct(F.col("_old").alias("row"), F.lit("update_preimage").alias("ct")),
            F.struct(F.col("_new").alias("row"), F.lit("update_postimage").alias("ct")),
        )
    )
    out = changed.select(*kcols, F.explode(img).alias("im"))
    return out.select(
        *kcols,
        *[F.col(f"im.row.{c}").alias(c) for c in val_cols],
        F.col("im.ct").alias("_change_type"),
    )


@dataclass(frozen=True)
class LogState:
    """The table at one version, replayed from its log entries."""

    version: int = -1
    # live file name -> the version that added it, in commit order
    files: dict[str, int] = field(default_factory=dict)
    schema: StructType | None = None
    # the newest version whose entry removed files (a compaction or
    # an overwrite), -1 if none did
    compacted: int = -1

    def advance(self, entries: Iterable[dict]) -> LogState:
        """This state with `entries` (the next versions, in order)
        applied: removes first, then adds, as each commit wrote them."""
        files, schema, version, compacted = (
            dict(self.files), self.schema, self.version, self.compacted
        )
        for e in entries:
            version = e["version"]
            if e["remove"]:
                compacted = version
                for n in e["remove"]:
                    files.pop(n, None)
            files.update(dict.fromkeys(e["add"], version))
            if "schema" in e:
                schema = StructType.fromJson(e["schema"])
        return LogState(version, files, schema, compacted)


class _Held:
    """The replayed log a table and its session views share."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.state = LogState()
        self.sizes: dict[str, int] = {}  # bytes of data files, by name


class TxTable:
    def __init__(self, spark: SparkSession | None, path: str) -> None:
        self.spark = spark  # only reads and compactions need a session
        self.path = path
        self.log_dir = os.path.join(path, "_txlog")
        self.file_dir = os.path.join(path, "files")
        self._held = _Held()

    def on(self, spark: SparkSession) -> TxTable:
        """This table read through `spark`, sharing the held log."""
        if spark is self.spark:
            return self
        view = copy.copy(self)
        view.spark = spark
        return view

    # -- log plumbing -------------------------------------------------------

    def _entry_path(self, version: int) -> str:
        return os.path.join(self.log_dir, f"{version:010d}.json")

    def _entry(self, version: int) -> dict:
        with open(self._entry_path(version)) as f:
            return json.load(f)

    def _new_entries(self, version: int) -> list[dict]:
        """The entries after `version`: a cold table (-1) lists the log
        once; after that each `<v+1>.json` is opened until one is
        missing."""
        entries = []
        if version < 0:
            try:
                names = os.listdir(self.log_dir)
            except FileNotFoundError:
                return entries
            listed = [int(n.split(".")[0]) for n in names if n.endswith(".json")]
            entries = [self._entry(v) for v in range(max(listed, default=-1) + 1)]
            version = len(entries) - 1
        while True:
            try:
                entries.append(self._entry(version + 1))
            except FileNotFoundError:
                return entries
            version += 1

    def state(self, version: int | None = None) -> LogState:
        """The table at `version` (default: latest). The held state
        advances by the entries committed since it was last read;
        an older version is replayed from version 0."""
        with self._held.lock:
            held = self._held.state
            if version is None or version > held.version:
                new = self._new_entries(held.version)
                if new:
                    held = self._held.state = held.advance(new)
                    self._held.sizes = {
                        n: b for n, b in self._held.sizes.items() if n in held.files
                    }
        if version is None or version == held.version:
            return held
        return LogState().advance(self._entry(v) for v in range(version + 1))

    def latest_version(self) -> int:
        """Highest committed version, -1 for an empty or missing table."""
        return self.state().version

    def _files_at(self, version: int) -> list[str]:
        return list(self.state(version).files)

    def size(self, names: Collection[str]) -> int:
        """Bytes of the named data files: one stat per file, the first
        time it is asked for; no data is read."""
        with self._held.lock:
            sizes = self._held.sizes
            for n in names:
                if n not in sizes:
                    sizes[n] = os.path.getsize(os.path.join(self.file_dir, n))
            return sum(sizes[n] for n in names)

    def _stage(self, df: DataFrame) -> list[str]:
        """Write df as immutable parquet files; return their names."""
        stage_id = uuid.uuid4().hex
        tmp = os.path.join(self.path, f".stage-{stage_id}")
        df.write.mode("overwrite").parquet(tmp)
        os.makedirs(self.file_dir, exist_ok=True)
        names = []
        for n in sorted(os.listdir(tmp)):
            if n.endswith(".parquet"):
                dst = f"{stage_id}-{n}"
                os.rename(os.path.join(tmp, n), os.path.join(self.file_dir, dst))
                names.append(dst)
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)
        return names

    def _try_commit(
        self, version: int, add, remove, schema: StructType | None = None
    ) -> bool:
        """Atomically claim `version`. False if another writer won."""
        entry = {"version": version, "add": list(add), "remove": list(remove)}
        if schema is not None:
            entry["schema"] = schema.jsonValue()
        if version == 0:
            os.makedirs(self.log_dir, exist_ok=True)
        tmp = self._entry_path(version) + f".{uuid.uuid4().hex}.tmp"
        with open(tmp, "w") as f:
            json.dump(entry, f)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, self._entry_path(version))  # fails if it exists
            return True
        except FileExistsError:
            return False
        finally:
            os.remove(tmp)

    # -- reads --------------------------------------------------------------

    def one_task(self, state: LogState) -> bool:
        """Whether `state` is read as one partition: its live files
        total less than one advisory partition (module docstring)."""
        advisory = self.spark.conf.get(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes"
        )
        jutils = self.spark._jvm.org.apache.spark.network.util.JavaUtils
        return self.size(state.files) < jutils.byteStringAsBytes(advisory)

    def read(
        self, state: LogState, cluster_by: Sequence[str] = (),
        one_task: bool | None = None,
    ) -> DataFrame:
        """Read `state` under the one-task rule (module docstring): one
        partition below the gate; above it, hash-partitioned on
        `cluster_by` when given, so two keyed operators share one
        exchange. A repartition below the gate would bring the
        exchange back. A caller that has already asked ``one_task``
        passes its answer."""
        paths = [os.path.join(self.file_dir, n) for n in state.files]
        df = self.spark.read.schema(state.schema).parquet(*paths)
        if one_task is None:
            one_task = self.one_task(state)
        if one_task:
            return df.coalesce(1)
        return df.repartition(*cluster_by) if cluster_by else df

    def snapshot(
        self, version: int | None = None, cluster_by: Sequence[str] = ()
    ) -> DataFrame:
        """The table at `version` (default: latest). The returned
        DataFrame reads an immutable file list — concurrent commits
        and later overwrites cannot disturb it (until vacuum)."""
        state = self.state(version)
        if state.version < 0:
            raise ValueError("empty table has no snapshot")
        return self.read(state, cluster_by)

    # -- writes -------------------------------------------------------------

    def append(self, df: DataFrame) -> int:
        """Blind append: stages once, rebases the commit on collision
        (adds never conflict with anything)."""
        add = self._stage(df)
        while True:
            v = self.latest_version() + 1
            if self._try_commit(v, add, [], df.schema if v == 0 else None):
                return v

    def overwrite(self, df: DataFrame, read_version: int | None = None) -> int:
        """Replace the table contents. If `read_version` is given (the
        snapshot this transaction was computed from) and the table has
        advanced past it, raise CommitConflict instead of silently
        clobbering the interleaved commit."""
        base = self.latest_version()
        if read_version is not None and base != read_version:
            raise CommitConflict(
                f"table at v{base}, transaction read v{read_version}"
            )
        add = self._stage(df)
        remove = list(self.state(base).files)
        if not self._try_commit(base + 1, add, remove, df.schema):
            raise CommitConflict(f"version {base + 1} was claimed concurrently")
        return base + 1

    def compact(
        self,
        fold: Callable[[DataFrame], DataFrame],
        cluster_by: Sequence[str] = (),
    ) -> int | None:
        """Rewrite the table as ``fold(snapshot(cluster_by=cluster_by))``
        in one commit that adds the folded files and removes exactly the
        files it read. Returns the committed version, or None for an
        empty table.

        `fold` must keep the table's columns, and a reader must get the
        same answer from ``fold(S) + A`` as from ``S + A``: on a version
        collision the commit rebases over every interleaved commit A
        that left the files it read live (appends never remove any). If
        one removed a file it read, another rewrite got there first and
        CommitConflict is raised."""
        v = self.latest_version()
        if v < 0:
            return None
        state = self.state(v)
        read = list(state.files)
        add = self._stage(fold(self.read(state, cluster_by)))
        while not self._try_commit(v + 1, add, read):
            state = self.state()
            if any(n not in state.files for n in read):
                raise CommitConflict(
                    f"a commit after version {v} rewrote files this compaction read"
                )
            v = state.version
        return v + 1

    # -- maintenance --------------------------------------------------------

    def vacuum(self, retain_versions: int = 1) -> list[str]:
        """Delete data files unreachable from the newest
        `retain_versions` versions: crash orphans (staged but never
        committed) and files only referenced by older, dropped
        versions. Returns the deleted names. Time travel keeps working
        for retained versions only — the Delta VACUUM contract.

        Files a concurrent writer has staged but not yet committed are
        orphans too, so vacuum belongs to the table's single writer
        (as a sink's compaction is)."""
        state = self.state()
        first = max(0, state.version - retain_versions + 1)
        # a file live at a retained version is live now, or was removed
        # by a retained entry after the first
        keep = set(state.files)
        for v in range(first + 1, state.version + 1):
            keep.update(self._entry(v)["remove"])
        deleted = []
        for n in sorted(os.listdir(self.file_dir)):
            if n not in keep:
                os.remove(os.path.join(self.file_dir, n))
                deleted.append(n)
        return deleted

    def table_changes(
        self, v_from: int, v_to: int | None = None,
        keys: Sequence[str] = ("pk",),
    ) -> DataFrame:
        """Row-level changes between two committed versions (the Delta
        `table_changes` analog), derived by diffing the two immutable
        snapshots — works for any pair of retained versions with no
        write-path logging. Each snapshot reads under the one-task
        gate; see snapshot_changes for the join shape."""
        return snapshot_changes(
            self.snapshot(v_from), self.snapshot(v_to), keys=keys
        )

    def history(self) -> list[dict]:
        """The commit log (the DESCRIBE HISTORY analog)."""
        return [self._entry(v) for v in range(self.latest_version() + 1)]
