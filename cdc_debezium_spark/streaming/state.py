"""Stateful streaming: incremental latest-state (E7) and SCD2 history
with idempotent commits (E10), plus streaming dedup (E6).

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


def dedup_within_watermark(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str = "ts",
    delay: str = "10 minutes",
) -> DataFrame:
    """E6: at-least-once → effectively-once inside the stream —
    duplicates arriving within the watermark horizon are dropped
    without unbounded state."""
    return df.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(list(keys))


def stateful_running_totals(stream: DataFrame) -> DataFrame:
    """Per-key running totals as an `applyInPandasWithState` processor.

    The Spark-native analog of a stateful Kafka Streams app (reference
    values.yaml:71-83 `userProcessor`): arbitrary per-key Python state
    carried across micro-batches in the state store, Arrow-batched in
    and out (SURVEY §2.F "Stateful processor"). Each trigger emits the
    updated (user_id, n_events, sum_val) rows — the update-mode
    changelog a downstream cache (Redis analog) consumes.

    State is one (count, sum) pair per key: bounded, partitioned by the
    grouping key across executors — the 100 TB posture is state-store
    sharding, which Structured Streaming does per grouping partition.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def totals(key, pdfs, state):
        (user_id,) = key
        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf["value"].sum())
        state.update((n, s))
        yield pd.DataFrame(
            {"user_id": [user_id], "n_events": [n], "sum_val": [s]}
        )

    return stream.groupBy("user_id").applyInPandasWithState(
        totals,
        outputStructType="user_id long, n_events long, sum_val double",
        stateStructType="n long, s double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- merge-on-read state on a TxTable (see the module docstring) --------


def _snapshot(
    spark: SparkSession, path: str, cluster_by: Sequence[str] = ()
) -> DataFrame | None:
    t = TxTable(spark, path)
    return t.snapshot(cluster_by=cluster_by) if t.latest_version() >= 0 else None


def _compact(
    spark: SparkSession,
    path: str,
    fold: Callable[[DataFrame], DataFrame],
    cluster_by: Sequence[str] = (),
) -> int | None:
    """Commit ``fold(snapshot)`` in place of the files it read, then
    delete every file no version since the previous compaction can
    reach: the files that compaction removed, and crash orphans."""
    t = TxTable(spark, path)
    v = t.compact(fold, cluster_by)
    if v is not None:
        prev = max(
            (e["version"] for e in t.history()[:v] if e["remove"]), default=0
        )
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

    The sizes are one stat per file the log names; no data is read."""
    base: list[str] = []
    deltas: list[str] = []
    for e in table.history():
        if e["remove"]:
            removed = set(e["remove"])
            base = [n for n in base + deltas if n not in removed] + e["add"]
            deltas = []
        else:
            deltas += e["add"]
    if not deltas:
        return False
    base_b, delta_b = table.size(base), table.size(deltas)
    if base_b == 0:
        return delta_b > 0
    return delta_b >= ratio * base_b


class DeltaUpsertSink:
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
        self.path = path
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
        spark = batch.sparkSession
        TxTable(spark, self.path).append(batch)
        self._batches_seen += 1
        if self.compact_every and self._batches_seen % self.compact_every == 0:
            self.compact(spark)  # by attribute: a metering wrapper may replace it

    def current_state(self, spark: SparkSession) -> DataFrame | None:
        rows = _snapshot(spark, self.path)
        return None if rows is None else self._fold(rows)

    def read_live(self, spark: SparkSession) -> DataFrame:
        df = self.current_state(spark)
        if df is None:
            raise FileNotFoundError(self.path)
        if self.drop_deleted:
            df = df.filter(F.col(self.op_col) != "d")
        return df

    def compact(self, spark: SparkSession) -> int | None:
        """Snapshot -> one row per key (tombstones kept), committed in
        place of the files it read; returns the commit version."""
        return _compact(spark, self.path, self._fold)


class Scd2DeltaHistorySink:
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
        self.path = path
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
        spark = batch.sparkSession
        t = TxTable(spark, self.path)
        t.append(batch.dropDuplicates([*self.keys, self.ord_col]))
        if self.compact_ratio > 0 and _deltas_exceed_ratio(t, self.compact_ratio):
            self.compact(spark)

    def compact(self, spark: SparkSession) -> int | None:
        """Fold the snapshot to its deduped event set, committed in
        place of the files it read; returns the commit version."""
        return _compact(spark, self.path, self._fold, self.keys)

    def read_history(self, spark: SparkSession) -> DataFrame:
        from pyspark.sql import Window

        rows = _snapshot(spark, self.path, self.keys)
        if rows is None:
            raise FileNotFoundError(f"no state under {self.path}")
        w = Window.partitionBy(*self.keys).orderBy(
            F.asc(self.ts_col), F.asc(self.ord_col)
        )
        return self._fold(rows).withColumn(
            "valid_from_us", F.col(self.ts_col)
        ).withColumn("valid_to_us", F.lead(self.ts_col).over(w))
