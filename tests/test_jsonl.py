"""JSONL corpus source: schema-pinned read with a corrupt lane,
gz-sharded roundtrip, CDF replay invariant over the ACID table."""

from __future__ import annotations

import glob
import os

import pyspark.sql.functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from cdc_debezium_spark.sources.catalog import load_table
from cdc_debezium_spark.sources.jsonl import read_jsonl, write_jsonl

DOC_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("lang", StringType()),
        StructField("text", StringType()),
    ]
)


def test_jsonl_gz_shard_roundtrip(spark, sf_dir, tmp_path):
    """documents -> gz-sharded JSONL -> read back: same rows, shard
    count controlled by records_per_file, no inference scan."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    out = str(tmp_path / "corpus")
    write_jsonl(docs, out, records_per_file=100)
    shards = glob.glob(os.path.join(out, "*.json.gz"))
    n = docs.count()
    assert len(shards) >= n // 100  # sizing respected
    good, corrupt = read_jsonl(spark, out, DOC_SCHEMA)
    assert corrupt.count() == 0
    want = {(r.doc_id, r.lang, r.text) for r in docs.collect()}
    assert {(r.doc_id, r.lang, r.text) for r in good.collect()} == want


def test_jsonl_corrupt_lane(spark, tmp_path):
    p = tmp_path / "bad.jsonl"
    p.write_text(
        '{"doc_id": 1, "lang": "en", "text": "ok"}\n'
        "{definitely not json\n"
        '{"doc_id": 2, "lang": "en", "text": "also ok"}\n'
    )
    good, corrupt = read_jsonl(spark, str(p), DOC_SCHEMA)
    assert good.count() == 2
    rows = corrupt.collect()
    assert len(rows) == 1 and rows[0].raw.startswith("{definitely")


def test_txtable_cdf_replay_reconstructs_state(spark, sf_dir, tmp_path):
    """Replaying the change feed commit-by-commit from version 0
    reconstructs exactly the latest snapshot — the invariant that
    makes CDF a correct downstream-sync primitive."""
    from cdc_debezium_spark.operators import cdc
    from cdc_debezium_spark.streaming.txlog import TxTable

    t = TxTable(spark, str(tmp_path / "cdf_replay"))
    ce = cdc.cdc_events(spark, sf_dir).select("pk", "ord2", "ts_us", "op", "val")
    hi = ce.agg(F.max("ord2")).first()[0] + 1
    cuts = [0, hi // 3, 2 * hi // 3, hi]
    for i in range(3):
        chunk = ce.where(
            (F.col("ord2") >= cuts[i]) & (F.col("ord2") < cuts[i + 1])
        )
        v = t.latest_version()
        src = chunk if v < 0 else t.snapshot(v).unionByName(chunk)
        t.overwrite(cdc.latest_state(src), read_version=v)

    state = {r["pk"]: (r["ts_us"], r["val"]) for r in t.snapshot(0).collect()}
    for v in range(1, t.latest_version() + 1):
        for r in t.table_changes(v - 1, v, keys=["pk"]).collect():
            ct = r["_change_type"]
            if ct in ("insert", "update_postimage"):
                state[r["pk"]] = (r["ts_us"], r["val"])
            elif ct == "delete":
                state.pop(r["pk"])
    want = {
        r["pk"]: (r["ts_us"], r["val"]) for r in t.snapshot().collect()
    }
    assert state == want
