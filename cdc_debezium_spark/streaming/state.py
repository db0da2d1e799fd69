"""Stateful streaming: incremental latest-state (E7) and SCD2 history
with idempotent commits (E10).

The reference's consumers keep a current-state view per table (Redis
latest-value cache, ES index — README.md:48-51) fed by an at-least-once
log. OSS parquet has no MERGE, so the upsert sinks here are
merge-on-read, and a ``streaming.txlog.TxTable`` at the sink's path is
their only storage:

- each micro-batch is one blind ``append`` commit, which never reads
  prior state and never conflicts;
- compaction is one commit that adds the folded files and removes
  exactly the files it read; the files it removes stay on disk until
  the next compaction, so a read loses no file unless two compactions
  commit while it runs;
- readers fold a snapshot: latest-per-key for ``DeltaUpsertSink``,
  (keys, ord) dedup plus one ``lead()`` window for
  ``Scd2DeltaHistorySink``;
- each sink holds ONE ``TxTable`` for its life, whose held log state
  advances by the entries committed since it was last read, under the
  table's lock (a reader thread and the stream thread share the sink).
  The compaction trigger, the previous compaction's version and the
  vacuum's keep set come from that state, with no pass over the log;
- a sink's commit is the only point at which its state changes, so
  ``read_live`` and ``read_history`` reuse the DataFrame the last read
  built (its fold and filter already analysed) while the REUSE KEY
  holds: the same Spark session, the same log version, and the same
  side of the one-task gate (the advisory size is read from the
  session's conf at each call). Any change builds a new read from the
  snapshot at the version just resolved;
- reads and compactions follow the table's one-task rule: state
  smaller than one advisory partition
  (``spark.sql.adaptive.advisoryPartitionSizeInBytes``) is read as one
  partition, so a fold plans no exchange and a point read or a
  compaction is one Spark job. Above that gate each fold pays exactly
  one hash exchange on the keys.

Both folds are functions of the row SET with duplicate absorption, so
redelivery, a crashed batch re-run, or a compaction cut short all land
the same state — the effectively-once contract the reference gets from
offset commits + keyed topics (prod-resources.yaml:14-20, 84-95).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..operators.cdc import latest_state
from .txlog import TxTable


# --- merge-on-read state on a TxTable (see the module docstring) --------


class _HeldTableSink:
    """What both sinks share: the one ``TxTable`` they hold for their
    life, and the last read built on it (module docstring)."""

    def __init__(self, path: str) -> None:
        self.path = path
        self._table = TxTable(None, path)
        self._last_read: tuple | None = None  # (reuse key, DataFrame)

    def _reused_read(
        self,
        spark: SparkSession,
        cluster_by: Sequence[str],
        build: Callable[[DataFrame], DataFrame],
    ) -> DataFrame | None:
        """``build(snapshot)`` at the latest version, or None for an
        empty table. While the session, the version and the side of the
        one-task gate are those of the last call, it is the DataFrame
        that call returned."""
        t = self._table.on(spark)
        state = t.state()
        if state.version < 0:
            return None
        one_task = t.one_task(state)
        key = (spark, state.version, one_task)
        last = self._last_read
        if last is not None and last[0] == key:
            return last[1]
        df = build(t.read(state, cluster_by, one_task))
        self._last_read = (key, df)
        return df

    def _compact(
        self,
        spark: SparkSession,
        fold: Callable[[DataFrame], DataFrame],
        cluster_by: Sequence[str] = (),
    ) -> int | None:
        """Commit ``fold(snapshot)`` in place of the files it read, then
        delete every file no version since the previous compaction can
        reach: the files that compaction removed, and crash orphans."""
        t = self._table.on(spark)
        prev = max(t.state().compacted, 0)
        v = t.compact(fold, cluster_by)
        if v is not None:
            t.vacuum(retain_versions=v - prev + 1)
        return v


def _deltas_exceed_ratio(table: TxTable, ratio: float) -> bool:
    """Size-threshold compaction trigger: compact when the bytes
    appended since the last compaction reach `ratio` × the bytes of
    the base it left; with no base yet, any delta triggers.

    Amortization: each fold costs O(base + deltas) and fires only once
    deltas ≥ ratio×base, so a LOG-sized base (SCD2 history) grows
    geometrically and total compaction work over a drain is
    O(total × (1+ratio)/ratio) — linear in ingested bytes. A
    KEY-BOUNDED base (latest-state: #keys rows however much is
    ingested) does not grow, so every batch reaches the ratio and the
    rule degenerates to fold-every-batch; ``DeltaUpsertSink`` uses a
    fixed cadence for that reason.

    The files come from the table's held log state, and their sizes
    from one stat per file; no data is read."""
    state = table.state()
    base = [n for n, v in state.files.items() if v <= state.compacted]
    deltas = [n for n, v in state.files.items() if v > state.compacted]
    if not deltas:
        return False
    base_b, delta_b = table.size(base), table.size(deltas)
    if base_b == 0:
        return delta_b > 0
    return delta_b >= ratio * base_b


class DeltaUpsertSink(_HeldTableSink):
    """Merge-on-read latest-state sink — the compacted-topic analog.

      * per batch: APPEND the batch as one commit — O(batch), no read
        of prior state, no window on the hot path;
      * at read: ONE latest-per-key window over a snapshot (tombstones
        retained in state, filtered by read_live, so a late replay of
        an older event cannot resurrect a deleted key);
      * every `compact_every` batches: fold the snapshot down to one
        row per key (true Kafka-log-compaction semantics: state size
        becomes #keys, not log size) in one commit.

    The state is key-bounded, so compaction runs on a fixed cadence
    rather than a size ratio (see _deltas_exceed_ratio).

    Idempotence is order-theoretic: latest-per-key is a max over
    (order) per key, so duplicate rows (redelivery, crash re-runs, a
    batch re-appended after the compaction that folded it) never
    change the max, and a late row older than a compacted winner loses
    the window."""

    def __init__(
        self,
        path: str,
        keys: Sequence[str] = ("pk",),
        order: Sequence[str] = ("ts_us", "ord2"),
        op_col: str = "op",
        drop_deleted: bool = True,
        compact_every: int = 0,
    ) -> None:
        super().__init__(path)
        self.keys = list(keys)
        self.order = list(order)
        self.op_col = op_col
        self.drop_deleted = drop_deleted
        self.compact_every = compact_every
        self._batches_seen = 0

    def _fold(self, rows: DataFrame) -> DataFrame:
        return latest_state(
            rows, keys=self.keys, order=self.order,
            op_col=self.op_col, drop_deleted=False,
        )

    def __call__(self, batch: DataFrame, batch_id: int) -> None:
        self._table.append(batch)
        self._batches_seen += 1
        if self.compact_every and self._batches_seen % self.compact_every == 0:
            # by attribute: a metering wrapper may replace it
            self.compact(batch.sparkSession)

    def _live(self, rows: DataFrame) -> DataFrame:
        df = self._fold(rows)
        if self.drop_deleted:
            df = df.filter(F.col(self.op_col) != "d")
        return df

    def current_state(self, spark: SparkSession) -> DataFrame | None:
        t = self._table.on(spark)
        state = t.state()
        return self._fold(t.read(state)) if state.version >= 0 else None

    def read_live(self, spark: SparkSession) -> DataFrame:
        df = self._reused_read(spark, (), self._live)
        if df is None:
            raise FileNotFoundError(self.path)
        return df

    def compact(self, spark: SparkSession) -> int | None:
        """Snapshot -> one row per key (tombstones kept), committed in
        place of the files it read; returns the commit version."""
        return self._compact(spark, self._fold)


class Scd2DeltaHistorySink(_HeldTableSink):
    """Merge-on-read SCD2 history sink — the streaming form of
    operators.cdc.scd2 (B7) and the DW sink's audit contract (reference
    README.md:49; retained-log history, prod-resources.yaml:126-134).

    It follows the public Hudi/Delta merge-on-read recipe:

      * per batch: dedupe WITHIN the batch and APPEND it as one commit
        — O(batch) work, no read of prior state, no window;
      * at read (or compaction): drop redelivered duplicates on
        (keys, ord) over a snapshot, derive each key's
        [valid_from, valid_to) intervals with ONE lead() window;
      * once the bytes appended since the last compaction reach
        `compact_ratio` × the base: fold them into the base (dedup
        only — intervals stay derive-on-read), bounding read
        amplification. History is log-sized, so the base grows with
        ingested volume and the ratio rule amortizes.

    Idempotence is row-level: at-least-once redelivery (including a
    foreachBatch re-run after a crash) just appends duplicate
    (key, ord) rows, and the read/compaction-side dropDuplicates
    absorbs them. The derived table is a pure function of the row SET,
    so any batch arrival order (mtime ties, interleaved partitions,
    replays) lands the identical history.
    """

    def __init__(
        self,
        path: str,
        keys: Sequence[str] = ("pk",),
        ts_col: str = "ts_us",
        ord_col: str = "ord2",
        compact_ratio: float = 0.0,
    ) -> None:
        super().__init__(path)
        self.keys = list(keys)
        self.ts_col = ts_col
        self.ord_col = ord_col
        self.compact_ratio = compact_ratio

    def _fold(self, rows: DataFrame) -> DataFrame:
        # `rows` is a snapshot read with cluster_by=keys. Below the
        # one-task gate it is one partition, which satisfies both the
        # (keys, ord) dedup and the interval window: no exchange. Above
        # it the read is hash(keys)-partitioned, which satisfies both
        # (subset rule): ONE exchange for the whole read path, where a
        # dedup left to pick its own (keys, ord) exchange would force a
        # second shuffle before the window.
        return rows.dropDuplicates([*self.keys, self.ord_col])

    def __call__(self, batch: DataFrame, batch_id: int) -> None:
        self._table.append(batch.dropDuplicates([*self.keys, self.ord_col]))
        if self.compact_ratio > 0 and _deltas_exceed_ratio(
            self._table, self.compact_ratio
        ):
            self.compact(batch.sparkSession)

    def compact(self, spark: SparkSession) -> int | None:
        """Fold the snapshot to its deduped event set, committed in
        place of the files it read; returns the commit version."""
        return self._compact(spark, self._fold, self.keys)

    def _intervals(self, rows: DataFrame) -> DataFrame:
        from pyspark.sql import Window

        w = Window.partitionBy(*self.keys).orderBy(
            F.asc(self.ts_col), F.asc(self.ord_col)
        )
        return self._fold(rows).withColumn(
            "valid_from_us", F.col(self.ts_col)
        ).withColumn("valid_to_us", F.lead(self.ts_col).over(w))

    def read_history(self, spark: SparkSession) -> DataFrame:
        df = self._reused_read(spark, self.keys, self._intervals)
        if df is None:
            raise FileNotFoundError(f"no state under {self.path}")
        return df
