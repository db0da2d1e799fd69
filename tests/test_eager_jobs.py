"""Spark jobs launched while DataFrames are only being built.

A read whose schema the engine already knows must launch no
schema-inference job, and constructing a headline lane must not hide
an action (ROADMAP item 3). Jobs are counted per job group through
``statusTracker().getJobIdsForGroup``.
"""

from __future__ import annotations

import itertools
from contextlib import contextmanager

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F

from cdc_debezium_spark import registry
from cdc_debezium_spark.operators import cdc
from cdc_debezium_spark.sources import catalog
from cdc_debezium_spark.streaming.state import (
    DeltaUpsertSink,
    Scd2DeltaHistorySink,
)
from cdc_debezium_spark.streaming.txlog import TxTable

_GROUPS = itertools.count()


@contextmanager
def jobs_launched(spark):
    """Yield a list that holds, after the block, the ids of the Spark
    jobs the block launched."""
    sc = spark.sparkContext
    group = f"test-eager-jobs-{next(_GROUPS)}"
    ids: list[int] = []
    sc.setJobGroup(group, group)
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


def _sorted_rows(df):
    return sorted(df.collect(), key=repr)


def test_repeat_load_table_launches_no_job(spark, sf_dir, monkeypatch):
    monkeypatch.setattr(catalog, "_SCHEMAS", {})
    for name in ("orders", "events"):
        with jobs_launched(spark) as first_jobs:
            first = catalog.load_table(spark, sf_dir, name)
        with jobs_launched(spark) as repeat_jobs:
            repeat = catalog.load_table(spark, sf_dir, name)
        assert first_jobs, f"{name}: the first read should infer the schema"
        assert repeat_jobs == [], name
        assert repeat.schema == first.schema
        assert _sorted_rows(repeat) == _sorted_rows(first)
    # the events normalization still sees int64 ns under the memo
    dtypes = dict(repeat.dtypes)
    assert dtypes["ts"] == "timestamp_ntz" and dtypes["ts_us"] == "bigint"


def test_rewritten_fixture_is_inferred_again(spark, tmp_path):
    path = str(tmp_path / "region.parquet")
    pq.write_table(pa.table({"r_regionkey": [0, 1]}), path)
    assert catalog.load_table(spark, str(tmp_path), "region").columns == [
        "r_regionkey"
    ]
    pq.write_table(
        pa.table({"r_regionkey": [0, 1, 2], "r_name": ["A", "B", "C"]}), path
    )
    df = catalog.load_table(spark, str(tmp_path), "region")
    assert df.columns == ["r_regionkey", "r_name"]
    assert sorted(tuple(r) for r in df.collect()) == [
        (0, "A"), (1, "B"), (2, "C"),
    ]


def test_merge_on_read_sinks_read_with_pinned_schema(spark, sf_dir, tmp_path):
    """Both sinks build their reads without a job: the schema comes
    from the table's log, so a fresh sink over the same path (a
    restart) needs no inference either, and reads the same rows."""
    ev = cdc.cdc_events(spark, sf_dir).limit(600).cache()
    live_path, hist_path = str(tmp_path / "live"), str(tmp_path / "hist")
    live = DeltaUpsertSink(live_path, keys=["pk"], compact_every=2)
    hist = Scd2DeltaHistorySink(hist_path, keys=["pk"], compact_ratio=1.0)
    for i, part in enumerate((ev.limit(300), ev, ev.limit(100))):
        live(part, i)
        hist(part, i)
    for path in (live_path, hist_path):  # a compaction, then one append
        log = TxTable(spark, path).history()
        assert [bool(e["remove"]) for e in log[-2:]] == [True, False]

    with jobs_launched(spark) as jobs:
        live_df = live.read_live(spark)
        hist_df = hist.read_history(spark)
        fresh_live = DeltaUpsertSink(live_path, keys=["pk"]).read_live(spark)
        fresh_hist = Scd2DeltaHistorySink(hist_path, keys=["pk"]).read_history(spark)
    assert jobs == []

    assert fresh_live.schema == live_df.schema
    assert fresh_hist.schema == hist_df.schema
    assert _sorted_rows(fresh_live) == _sorted_rows(live_df)
    assert _sorted_rows(fresh_hist) == _sorted_rows(hist_df)
    ev.unpersist()


def test_small_sink_point_read_and_compact_launch_one_job(spark, tmp_path):
    """A sink under the one-task gate plans no exchange, so AQE has no
    shuffle stage to run as a job of its own: a point read and a
    compaction launch one Spark job each."""
    df = spark.range(500).select(
        F.col("id").alias("pk"),
        (F.col("id") * 7).alias("ts_us"),
        F.col("id").alias("ord2"),
        F.lit("u").alias("op"),
    )
    sink = DeltaUpsertSink(str(tmp_path / "live"), keys=["pk"])
    for i in range(3):
        sink(df, i)
    with jobs_launched(spark) as read_jobs:
        rows = sink.read_live(spark).where(F.col("pk") == 42).collect()
    with jobs_launched(spark) as compact_jobs:
        sink.compact(spark)
    assert (len(read_jobs), len(compact_jobs)) == (1, 1)
    assert [tuple(r) for r in rows] == [(42, 294, 42, "u")]


# Lanes whose construction runs genuine actions, each capped at the
# job count it launches today on a repeat construction at sf0.001.
EAGER_LANES = {
    # first() reads the embedding width; the centroids are collected
    # into the vectorized assignment closure
    "ext_dedup_embedding_ann": 2,
    # the memoized k-means centroids are collected into the closure
    "ext_similarity_ivf_trained": 1,
    "ext_similarity_ivf_prod": 1,
    # count() (2 jobs under AQE) sizes bits="auto"; head(1) the width
    "ext_similarity_rp_lsh": 3,
}


def test_headline_construction_launches_no_hidden_job(spark, sf_dir):
    """Build every headline lane twice without executing it. The first
    pass fills the catalog's schema memo; on the second, only the
    allow-listed lanes may launch jobs, and no more than they do today."""
    from bench import HEADLINE

    for key in HEADLINE:
        registry.QUERIES[key](spark, sf_dir)
    launched = {}
    for key in HEADLINE:
        with jobs_launched(spark) as jobs:
            registry.QUERIES[key](spark, sf_dir)
        launched[key] = len(jobs)
    spark.catalog.clearCache()
    over = {
        k: n for k, n in launched.items() if n > EAGER_LANES.get(k, 0)
    }
    assert over == {}, launched
