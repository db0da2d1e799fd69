"""Property tests for the CDC kernels (SURVEY §5.2.3).

The operational invariants the reference's alerts monitor in production
(no loss, no dupes, delete correctness — prometheus-rules.yaml:12-37)
restated as algebraic properties over random event logs:

  P1  input row order never matters (Kafka only guarantees per-key
      order — the engine must order by (ts, ord), not arrival)
  P2  at-least-once redelivery is absorbed (dup injection is a no-op)
  P3  SCD2 intervals chain exactly (each valid_to = next valid_from;
      one open interval per key)
  P4  as-of(T) == latest-state of the log truncated at T

One shared Spark round-trip per generated example; examples are small
by design (the properties are about structure, not volume).
"""

from __future__ import annotations

import random

import pyspark.sql.functions as F
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from cdc_debezium_spark.operators import cdc

# a random event log: (pk, ord2, ts_us, op, val) with unique (pk, ord2)
EVENT_LOGS = st.lists(
    st.tuples(
        st.integers(0, 4),                       # pk: few keys -> collisions
        st.integers(0, 30),                      # ord2 (uniquified below)
        st.integers(1000, 1020),                 # ts_us: ties on purpose
        st.sampled_from(["c", "u", "u", "d"]),   # op mix
        st.integers(0, 100),                     # val
    ),
    min_size=1,
    max_size=25,
)

SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

SCHEMA = "pk long, ord2 long, ts_us long, op string, val long"


def _mk(spark, rows):
    # uniquify (pk, ord2): the event identity the log guarantees
    seen, out = set(), []
    for pk, o, ts, op, val in rows:
        while (pk, o) in seen:
            o += 100
        seen.add((pk, o))
        out.append((pk, o, ts, op, val))
    return out, spark.createDataFrame(out, SCHEMA)


def _state(df):
    return sorted(
        (r.pk, r.ord2, r.ts_us, r.val)
        for r in cdc.latest_state(df).collect()
    )


@given(EVENT_LOGS, st.randoms(use_true_random=False))
@SETTINGS
def test_p1_input_order_never_matters(spark, rows, rnd):
    rows, df = _mk(spark, rows)
    shuffled = rows[:]
    rnd.shuffle(shuffled)
    assert _state(df) == _state(spark.createDataFrame(shuffled, SCHEMA))


@given(EVENT_LOGS, st.randoms(use_true_random=False))
@SETTINGS
def test_p2_redelivery_absorbed(spark, rows, rnd):
    rows, df = _mk(spark, rows)
    dupes = rows + [r for r in rows if rnd.random() < 0.5]
    rnd.shuffle(dupes)
    replayed = cdc.dedup_exact(
        spark.createDataFrame(dupes, SCHEMA), ["pk", "ord2"]
    )
    assert _state(df) == _state(replayed)


@given(EVENT_LOGS)
@SETTINGS
def test_p3_scd2_intervals_chain(spark, rows):
    rows, df = _mk(spark, rows)
    hist = cdc.scd2(df).collect()
    by_key: dict[int, list] = {}
    for r in hist:
        by_key.setdefault(r.pk, []).append(r)
    for pk, rs in by_key.items():
        rs.sort(key=lambda r: (r.ts_us, r.ord2))
        opens = [r for r in rs if r.valid_to_us is None]
        assert len(opens) == 1 and opens[0] is rs[-1]
        for a, b in zip(rs, rs[1:]):
            assert a.valid_to_us == b.ts_us


@given(EVENT_LOGS, st.integers(1000, 1020))
@SETTINGS
def test_p4_as_of_equals_truncated_latest(spark, rows, cut):
    rows, df = _mk(spark, rows)
    via_op = sorted(
        (r.pk, r.ord2, r.val)
        for r in cdc.as_of_snapshot(df, cut).collect()
    )
    truncated = spark.createDataFrame(
        [r for r in rows if r[2] <= cut] or [(99, 0, 0, "d", 0)], SCHEMA
    )
    via_trunc = sorted(
        (r.pk, r.ord2, r.val) for r in cdc.latest_state(truncated).collect()
    )
    assert via_op == via_trunc


# P6: the Avro codec is lossless on arbitrary rows -----------------------------

AVRO_FIELDS = [
    ("id", "long"),
    ("name", ["null", "string"]),
    ("ok", "boolean"),
    ("x", ["null", "double"]),
    ("raw", "bytes"),
]

AVRO_ROWS = st.fixed_dictionaries(
    {
        "id": st.integers(-(2**63), 2**63 - 1),
        "name": st.none() | st.text(max_size=40),
        "ok": st.booleans(),
        "x": st.none()
        | st.floats(allow_nan=False, allow_infinity=False, width=64),
        "raw": st.binary(max_size=40),
    }
)


@given(st.lists(AVRO_ROWS, min_size=1, max_size=20), st.integers(1, 2**31 - 1))
@settings(max_examples=50, deadline=None)
def test_p6_avro_roundtrip_lossless(rows, sid):
    """encode->frame->unframe->decode is the identity for every value
    the schema can carry (full 64-bit long range, unicode, None
    branches, arbitrary bytes), and decode consumes every byte."""
    from cdc_debezium_spark.sources import avro_wire as aw

    for row in rows:
        payload = aw.frame(sid, aw.encode_record(AVRO_FIELDS, row))
        got_sid, body = aw.unframe(payload)
        dec, pos = aw.decode_record(AVRO_FIELDS, body)
        assert got_sid == sid and pos == len(body) and dec == row


def test_incremental_snapshot_reconstructs_latest_state(spark, sf_dir):
    """The DBLog guarantee: chunked snapshot rows + the post-read-
    instant stream tail replay to EXACTLY the state a full-log
    compaction produces — chunking loses nothing, duplicates nothing.
    Reconstruction merges each key's snapshot row (as an op='r' read)
    with its tail events and compacts; compared row-for-row against
    cdc_latest_state."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from cdc_debezium_spark import registry
    from cdc_debezium_spark.operators import cdc
    from cdc_debezium_spark.queries_cdc import INCR_CHUNK_SZ, INCR_STEP_US

    registry.load_all()
    snap = registry.QUERIES["cdc_incremental_snapshot"](spark, sf_dir)
    ce = cdc.cdc_events(spark, sf_dir).withColumn(
        "read_ts_us",
        (
            F.lit(cdc.SNAPSHOT_CUT_US)
            + F.expr(f"pk div {INCR_CHUNK_SZ}") * F.lit(INCR_STEP_US)
        ).cast("long"),
    )
    tail = ce.filter(F.col("ts_us") > F.col("read_ts_us")).select(
        "pk", "ts_us", "ord2", "op", "val"
    )
    snap_rows = snap.select(
        "pk",
        F.col("snap_ts_us").alias("ts_us"),
        F.lit(-1).cast("long").alias("ord2"),
        F.lit("r").alias("op"),
        F.col("snap_val").alias("val"),
    )
    w = Window.partitionBy("pk").orderBy(F.desc("ts_us"), F.desc("ord2"))
    rebuilt = (
        snap_rows.unionByName(tail)
        .withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("op") != "d"))
        .select("pk", "ts_us", "val")
    )
    latest = registry.QUERIES["cdc_latest_state"](spark, sf_dir).select(
        "pk", F.col("last_ts_us").alias("ts_us"), F.col("last_val").alias("val")
    )
    got = {tuple(r) for r in rebuilt.collect()}
    want = {tuple(r) for r in latest.collect()}
    assert got == want and len(want) > 0


def test_concurrent_lane_execution_parity(spark, sf_dir):
    """Lanes must be safe to run CONCURRENTLY on one shared session —
    a budgeted driver (or a user) may overlap them. Exercises the
    lanes that touch session-global state (temp views, registered
    UDTFs) alongside plain ones: results from 2x-threaded execution
    must equal sequential results row-for-row.

    Guards the per-invocation-unique view names in udtf_tokenize /
    agg_grouping_sets (a fixed name races across threads: one thread
    replaces the view mid-flight of the other's analysis)."""
    import threading

    from cdc_debezium_spark import registry

    registry.load_all()
    keys = [
        "udtf_tokenize",
        "agg_grouping_sets",
        "sql_pricing_summary",
        "project_basic",
        "agg_groupby",
        "scalar_hash",
    ]

    def run(key):
        df = registry.QUERIES[key](spark, sf_dir)
        cols = sorted(df.columns)
        return sorted(
            tuple(str(r[c]) for c in cols) for r in df.select(*cols).collect()
        )

    sequential = {k: run(k) for k in keys}

    results: dict[tuple[str, int], object] = {}
    errors: list[str] = []

    def worker(key, slot):
        try:
            results[(key, slot)] = run(key)
        except Exception as ex:  # noqa: BLE001
            errors.append(f"{key}[{slot}]: {type(ex).__name__}: {ex}")

    threads = [
        threading.Thread(target=worker, args=(k, s))
        for s in range(2)
        for k in keys
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(300)
    assert not errors, errors
    for (key, slot), rows in results.items():
        assert rows == sequential[key], f"{key}[{slot}] diverged under concurrency"


@given(EVENT_LOGS, st.randoms(use_true_random=False))
@SETTINGS
def test_p10_scd2_sink_batch_partition_invariant(spark, tmp_path_factory, rows, rnd):
    """Scd2DeltaHistorySink commutativity, generalized beyond the
    mtime-tie regression test: for ANY partition of the log into
    batches, applied in ANY order, with random redelivery, the
    maintained history equals the batch SCD2 window. Drives the
    sink's foreachBatch callable directly (no streaming machinery)
    so hypothesis can afford many examples."""
    from cdc_debezium_spark.streaming.state import Scd2DeltaHistorySink

    rows, df = _mk(spark, rows)
    # random partition into 1-4 batches + redeliver a random subset
    batches: list[list] = [[] for _ in range(rnd.randint(1, 4))]
    for r in rows:
        batches[rnd.randrange(len(batches))].append(r)
    redelivered = [r for r in rows if rnd.random() < 0.3]
    if redelivered:
        batches.append(redelivered)
    rnd.shuffle(batches)

    path = str(tmp_path_factory.mktemp("scd2_prop"))
    sink = Scd2DeltaHistorySink(path + "/state", keys=["pk"])
    for i, b in enumerate(batch for batch in batches if batch):
        sink(spark.createDataFrame(b, SCHEMA), i)

    got = sorted(
        (r.pk, r.ord2, r.ts_us, r.valid_from_us, r.valid_to_us)
        for r in sink.read_history(spark).collect()
    )
    want = sorted(
        (r.pk, r.ord2, r.ts_us, r.valid_from_us, r.valid_to_us)
        for r in cdc.scd2(df).collect()
    )
    assert got == want


@given(EVENT_LOGS)
@SETTINGS
def test_p11_asof_forward_matches_bruteforce(spark, rows):
    """Forward as-of (earliest right row with ts >= left ts, ties by
    ordinal) checked against a per-row Python brute force — guards the
    negated-ordinate construction the lane uses (a sign slip there
    would silently flip direction or boundary)."""
    rows, df = _mk(spark, rows)
    left = [r for r in rows if r[3] in ("c", "u")][:10]
    right = [r for r in rows if r[3] == "d"]
    if not left or not right:
        return
    lf = spark.createDataFrame(left, SCHEMA).select(
        "pk", "ord2", (-F.col("ts_us")).alias("neg_ts"),
        (-F.col("ord2")).alias("neg_ord"), "ts_us"
    )
    rf = spark.createDataFrame(right, SCHEMA).select(
        "pk", (-F.col("ts_us")).alias("neg_ts"),
        (-F.col("ord2")).alias("neg_ord"),
        F.col("ts_us").alias("r_ts"), F.col("val").alias("r_val"),
    )
    out = cdc.asof_join(
        lf, rf, on=["pk"],
        left_order=["neg_ts", "neg_ord"],
        right_order=["neg_ts", "neg_ord"],
        right_value_cols=["r_ts", "r_val"],
    )
    got = {(r.pk, r.ord2): (r.asof_r_ts, r.asof_r_val) for r in out.collect()}
    for pk, o, ts, _op, _v in left:
        # brute force: earliest right with (ts, ord) ordering at or
        # after the left ordinate under the SAME (neg_ts, neg_ord)
        # total order the operator folds with
        cands = sorted(
            ((rts, ro, rv) for rpk, ro, rts, _rop, rv in right if rpk == pk
             and (-rts, -ro) <= (-ts, -o)),
            key=lambda t: (-t[0], -t[1]), reverse=True,
        )
        want = (cands[0][0], cands[0][2]) if cands else (None, None)
        assert got[(pk, o)] == want, (pk, o, got[(pk, o)], want)


# --- P8: the 61-bit shingle/minhash hash family (round 8) -------------------
#
# The r8 widening moved shingles to mod 2^61-1 arithmetic built ONLY
# from linear forms whose intermediates stay < 2^63 — DuckDB raises on
# BIGINT overflow and Spark wraps silently, so the overflow-free
# construction IS the cross-engine equality guarantee. This pins it:
# a pure-Python big-int reference (no overflow possible) must agree
# with the Spark HOF fold, the window-lead fold, and DuckDB, on
# arbitrary token streams.


def _py_word_hash(tok: str) -> int:
    import hashlib

    # 48-bit shingle-path word hash (hashing.word_hash48)
    return int(hashlib.md5(tok.encode()).hexdigest()[:12], 16)


def _py_shingle_hashes(tokens: list[str], n: int = 3) -> set[int]:
    from cdc_debezium_spark.ext.hashing import INIT, M61, SHINGLE_COEF

    hw = [_py_word_hash(t) for t in tokens]
    out = set()
    for i in range(len(hw) - n + 1):
        acc = INIT
        for k in range(n):
            step = acc + SHINGLE_COEF[k] * hw[i + k]
            assert step < (1 << 63), "intermediate overflows int64"
            acc = step % M61
        out.add(acc)
    return out


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    docs=st.lists(
        st.lists(
            st.text(alphabet="abcdef ghij", min_size=0, max_size=8),
            min_size=0, max_size=12,
        ),
        min_size=1, max_size=6,
    ),
    n=st.integers(min_value=2, max_value=5),
)
def test_p8_shingle_hash_three_ways(spark, docs, n):
    """Spark HOF fold == window-lead fold == DuckDB == big-int Python
    on arbitrary token lists, for any shingle width 2..5."""
    import duckdb

    from cdc_debezium_spark.ext import dedup
    from cdc_debezium_spark.ext.hashing import (
        duck_shingle_hashes,
        duck_word_hash48,
        shingle_hashes,
    )

    # tokens as the engine sees them: split on single spaces
    texts = [" ".join(t.replace(" ", "_") or "x" for t in d) for d in docs]
    sdf = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    # HOF fold over split tokens
    hof = {
        r["doc_id"]: set(r["s"])
        for r in sdf.select(
            "doc_id", shingle_hashes(F.split("text", " "), n).alias("s")
        ).collect()
    }
    # window-lead fold (the row-shaped pipeline the dedup lanes use)
    rows = dedup._shingle_hash_rows(sdf, n=n).collect()
    lead = {}
    for r in rows:
        lead.setdefault(r["doc_id"], set()).add(r["shash"])
    # DuckDB mirror
    con = duckdb.connect()
    con.execute("CREATE TABLE t(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(texts)))
    duck = {
        did: set(s)
        for did, s in con.execute(
            f"""
            SELECT doc_id, {duck_shingle_hashes('w', n)} FROM (
              SELECT doc_id, w,
                     list_transform(w, t -> {duck_word_hash48('t')}) AS hwl
              FROM (SELECT doc_id, string_split(text, ' ') AS w FROM t)
            )"""
        ).fetchall()
    }
    for did, text in enumerate(texts):
        ref = _py_shingle_hashes(text.split(" "), n)
        assert hof.get(did, set()) == ref, f"HOF fold diverges doc {did}"
        assert lead.get(did, set()) == ref, f"lead fold diverges doc {did}"
        assert duck.get(did, set()) == ref, f"DuckDB diverges doc {did}"
        for h in ref:
            assert 0 <= h < (1 << 61)


@settings(max_examples=30, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(h=st.integers(min_value=0, max_value=(1 << 61) - 2),
       j=st.integers(min_value=0, max_value=7))
def test_p8_minhash_perm_three_ways(spark, h, j):
    """The split-linear 61-bit minhash perm: Spark column expression ==
    DuckDB fragment == big-int Python, with every intermediate < 2^63."""
    import duckdb

    from cdc_debezium_spark.ext.hashing import (
        M61, MINHASH_SEEDS61, duck_minhash, minhash_col,
    )

    a, b, d = MINHASH_SEEDS61[j]
    lo, hi = h & ((1 << 31) - 1), h >> 31
    raw = lo * a + hi * b + d
    assert raw < (1 << 63), "perm intermediate overflows int64"
    ref = raw % M61
    got_duck = duckdb.connect().execute(
        f"SELECT {duck_minhash(str(h), j)}"
    ).fetchone()[0]
    assert got_duck == ref
    got_spark = (
        spark.range(1)
        .select(minhash_col(F.lit(h).cast("long"), j).alias("m"))
        .collect()[0]["m"]
    )
    assert got_spark == ref


def test_p8_shingle_width_guard(spark):
    """Widths outside the coefficient family raise a clear ValueError
    at plan-build time (not IndexError mid-expression-build)."""
    import pytest

    from cdc_debezium_spark.ext.hashing import (
        SHINGLE_COEF, duck_shingle_hashes, shingle_hashes,
    )

    top = len(SHINGLE_COEF)
    assert duck_shingle_hashes("w", top)  # the cap itself is valid
    for bad in (0, top + 1):
        with pytest.raises(ValueError, match="shingle width"):
            shingle_hashes(F.array(F.lit("a")), bad)
        with pytest.raises(ValueError, match="shingle width"):
            duck_shingle_hashes("w", bad)
