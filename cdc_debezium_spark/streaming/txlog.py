"""Minimal log-structured table format: ACID commits over parquet.

The reference's sinks assume a transactional upsert store
(README.md:48-51 — Redis/ES/DW); OSS parquet directories give none of
that, and the merge-on-read sinks in state.py still expose readers to
compaction deleting the files they scan. This module is the missing
piece realized natively — the core idea of the public
Delta/Iceberg designs (an append-only transaction log of immutable
data files) in a dependency-free form:

- data files are IMMUTABLE parquet files under ``files/``, named by
  commit uuid; they are never modified or moved after creation
- a table version is a JSON entry ``_txlog/<version>.json`` listing
  files added and removed; the entry is created ATOMICALLY
  (tmp + fsync + hard-link-free rename with O_EXCL semantics via
  ``os.link``), so readers see either version N or N+1, never a
  partial state — no directory is ever swapped under a reader
- reads resolve a SNAPSHOT: replay the log to the requested (or
  latest) version, hand Spark the immutable file list. A concurrent
  commit cannot disturb an in-flight read; old versions remain
  readable (time travel) until vacuumed
- writers use OPTIMISTIC concurrency: stage files, then try to claim
  the next version. ``append`` rebases automatically on collision
  (blind adds never conflict); ``overwrite``/``upsert`` raise
  CommitConflict if the table advanced past the snapshot they read,
  exactly Delta's WriteSerializable behavior for conflicting
  transactions
- a crash between staging and commit leaves orphan data files that no
  log entry references; ``vacuum`` removes them plus files only
  referenced by dropped versions

At 100 TB the log is KBs per commit and the data plane is untouched
parquet — the same reason the real formats scale. Swapping this for
Delta/Iceberg is a constructor change for every consumer in this
repo.
"""

from __future__ import annotations

import json
import os
import uuid
from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..operators.cdc import latest_state


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
    downstream explode touches only the (small) changed subset.
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


class TxTable:
    def __init__(self, spark: SparkSession, path: str) -> None:
        self.spark = spark
        self.path = path
        self.log_dir = os.path.join(path, "_txlog")
        self.file_dir = os.path.join(path, "files")
        os.makedirs(self.log_dir, exist_ok=True)
        os.makedirs(self.file_dir, exist_ok=True)

    # -- log plumbing -------------------------------------------------------

    def _entry_path(self, version: int) -> str:
        return os.path.join(self.log_dir, f"{version:010d}.json")

    def latest_version(self) -> int:
        """Highest committed version, -1 for an empty table."""
        vs = [
            int(n.split(".")[0])
            for n in os.listdir(self.log_dir)
            if n.endswith(".json")
        ]
        return max(vs) if vs else -1

    def _files_at(self, version: int) -> list[str]:
        live: list[str] = []
        for v in range(version + 1):
            with open(self._entry_path(v)) as f:
                e = json.load(f)
            removed = set(e.get("remove", []))
            live = [p for p in live if p not in removed]
            live.extend(e.get("add", []))
        return live

    def _stage(self, df: DataFrame) -> list[str]:
        """Write df as immutable parquet files; return their names."""
        stage_id = uuid.uuid4().hex
        tmp = os.path.join(self.path, f".stage-{stage_id}")
        df.write.mode("overwrite").parquet(tmp)
        names = []
        for n in sorted(os.listdir(tmp)):
            if n.endswith(".parquet"):
                dst = f"{stage_id}-{n}"
                os.rename(os.path.join(tmp, n), os.path.join(self.file_dir, dst))
                names.append(dst)
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)
        return names

    def _try_commit(self, version: int, add, remove) -> bool:
        """Atomically claim `version`. False if another writer won."""
        entry = {"version": version, "add": list(add), "remove": list(remove)}
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

    def snapshot(self, version: int | None = None) -> DataFrame:
        """The table at `version` (default: latest). The returned
        DataFrame reads an immutable file list — concurrent commits
        and later overwrites cannot disturb it (until vacuum)."""
        v = self.latest_version() if version is None else version
        if v < 0:
            raise ValueError("empty table has no snapshot")
        files = [os.path.join(self.file_dir, n) for n in self._files_at(v)]
        if not files:
            first = [os.path.join(self.file_dir, n) for n in self._files_at(0)]
            return self.spark.read.parquet(*first).limit(0)
        return self.spark.read.parquet(*files)

    # -- writes -------------------------------------------------------------

    def append(self, df: DataFrame) -> int:
        """Blind append: stages once, rebases the commit on collision
        (adds never conflict with anything)."""
        add = self._stage(df)
        while True:
            v = self.latest_version() + 1
            if self._try_commit(v, add, []):
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
        remove = self._files_at(base) if base >= 0 else []
        if not self._try_commit(base + 1, add, remove):
            raise CommitConflict(f"version {base + 1} was claimed concurrently")
        return base + 1

    def upsert(
        self,
        source: DataFrame,
        keys: Sequence[str] = ("pk",),
        order: Sequence[str] = ("ts_us", "ord2"),
        op_col: str = "op",
        drop_deleted: bool = True,
    ) -> int:
        """Transactional CDC apply: newest event per key wins, deletes
        vanish — the latest-state contract as one ACID commit. Reads
        the current snapshot, folds the source in with the standard
        kernel, commits the new state; conflicts surface as
        CommitConflict (retry = recompute against the new snapshot,
        the optimistic loop every Delta MERGE user writes).

        Apply batches in log order (the per-key ordering a keyed topic
        guarantees): with ``drop_deleted=True`` the fold discards
        tombstones at each commit, so an out-of-order older event in a
        later batch would resurrect a deleted key. For unordered
        ingestion keep ``drop_deleted=False`` (tombstones stay rows
        that win the per-key ordering) and filter deletes at read —
        the compacted-topic contract."""
        base = self.latest_version()
        if base < 0:
            merged = latest_state(
                source, keys=keys, order=order, op_col=op_col,
                drop_deleted=drop_deleted,
            )
        else:
            cur = self.snapshot(base)
            merged = latest_state(
                cur.unionByName(source, allowMissingColumns=True),
                keys=keys, order=order, op_col=op_col,
                drop_deleted=drop_deleted,
            )
        add = self._stage(merged)
        remove = self._files_at(base) if base >= 0 else []
        if not self._try_commit(base + 1, add, remove):
            raise CommitConflict(f"version {base + 1} was claimed concurrently")
        return base + 1

    # -- maintenance --------------------------------------------------------

    def vacuum(self, retain_versions: int = 1) -> list[str]:
        """Delete data files unreachable from the newest
        `retain_versions` versions: crash orphans (staged but never
        committed) and files only referenced by older, dropped
        versions. Returns the deleted names. Time travel keeps working
        for retained versions only — the Delta VACUUM contract."""
        latest = self.latest_version()
        keep: set[str] = set()
        for v in range(max(0, latest - retain_versions + 1), latest + 1):
            keep.update(self._files_at(v))
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
        write-path logging. See snapshot_changes for the join shape."""
        return snapshot_changes(
            self.snapshot(v_from), self.snapshot(v_to), keys=keys
        )

    def history(self) -> list[dict]:
        """The commit log (the DESCRIBE HISTORY analog)."""
        out = []
        for v in range(self.latest_version() + 1):
            with open(self._entry_path(v)) as f:
                out.append(json.load(f))
        return out


class TxUpsertSink:
    """foreachBatch target maintaining latest-state in a TxTable —
    the E7 stateful-upsert contract (as state.DeltaUpsertSink) with an
    ACID backend: each micro-batch is ONE atomic commit, concurrent readers
    see a consistent version, and redelivered batches are absorbed
    because the latest-state fold is idempotent (E10). The streaming
    analog of a Delta `foreachBatch MERGE` sink, with no dependency.

    The fold RETAINS tombstones in committed state (compacted-topic
    contract, same as DeltaUpsertSink): a delete stays a row that
    wins the per-key ordering, and ``read_live`` filters it. This is
    what makes the sink robust to batch-level reordering — Spark's
    file streaming source orders files by modification time with ties
    broken arbitrarily, so under load several pending files can land
    in one mtime tick and arrive out of log order. With tombstones
    dropped at commit time (the pre-r7 behavior), a reordered older
    event in a later batch resurrected the deleted key; with them
    retained, the event's own order columns decide every fold, and
    the result is independent of batch arrival order.
    """

    def __init__(
        self,
        path: str,
        keys: Sequence[str] = ("pk",),
        order: Sequence[str] = ("ts_us", "ord2"),
        op_col: str = "op",
        drop_deleted: bool = True,
    ) -> None:
        self.path = path
        self.keys = list(keys)
        self.order = list(order)
        self.op_col = op_col
        # read-side filter only; commits always keep tombstones so the
        # fold commutes across batch reordering/redelivery
        self.drop_deleted = drop_deleted

    def __call__(self, batch: DataFrame, batch_id: int) -> None:
        if not batch.head(1):
            return
        TxTable(batch.sparkSession, self.path).upsert(
            batch,
            keys=self.keys,
            order=self.order,
            op_col=self.op_col,
            drop_deleted=False,
        )

    def read_live(self, spark: SparkSession) -> DataFrame:
        df = TxTable(spark, self.path).snapshot()
        if self.drop_deleted:
            df = df.filter(F.col(self.op_col) != "d")
        return df
