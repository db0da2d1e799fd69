"""Driver keys for event-time windowing (SURVEY.md §2.E E3–E5).

These run the *same* window expressions Structured Streaming executes
incrementally, in batch mode, so they are oracle-checkable; the
streaming runtime behavior (watermarks, triggers, state) is covered by
tests/test_streaming.py golden parity tests.

Oracle formulations:
- tumbling: epoch-aligned integer bucketing
- sliding (2d, step 1d): each event belongs to exactly 2 windows —
  cross join with offsets {0,1}
- session (gap 30m): classic gaps-and-islands (lag + running sum),
  the batch formulation SURVEY §7.3.5 prescribes as the oracle
"""

from __future__ import annotations

import pyspark.sql.functions as F

from .registry import query
from .sources.catalog import load_table
from .streaming.windows import (
    US_PER_DAY,
    session,
    sliding,
    tumbling,
    window_end_us,
    window_start_us,
)

GAP_US = 30 * 60 * 1_000_000  # 30-minute session gap


@query(
    "agg_tumbling_window",
    oracle=f"""
    SELECT (epoch_us(ts) // {US_PER_DAY}) * {US_PER_DAY} AS start_us,
           event_type,
           count(*) AS n, round(sum(value), 2) AS sum_val
    FROM events
    GROUP BY start_us, event_type
    """,
)
def agg_tumbling_window(spark, sf_dir):
    """E3: tumbling 1-day windows per event type (per-interval counts,
    monitoring cadence analog prometheus-config.yaml:8-9)."""
    ev = load_table(spark, sf_dir, "events")
    return tumbling(ev, "ts", "1 day", "event_type").agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_val")
    ).select(
        window_start_us().alias("start_us"),
        "event_type",
        "n",
        "sum_val",
    )


@query(
    "agg_sliding_window",
    oracle=f"""
    SELECT ((epoch_us(ts) // {US_PER_DAY}) - i) * {US_PER_DAY} AS start_us,
           count(*) AS n, round(sum(value), 2) AS sum_val
    FROM events CROSS JOIN (VALUES (0), (1)) AS offs(i)
    GROUP BY start_us
    """,
)
def agg_sliding_window(spark, sf_dir):
    """E4: sliding 2-day windows, 1-day step (alert `for: 5m` moving
    windows analog, prometheus-rules.yaml:14).

    Hop-bucketed two-phase formulation (judge r4 item 9): Spark's
    native sliding `window()` lowers to an Expand that duplicates
    EVERY input row duration/slide times before the partial
    aggregate — at 100 TB that doubles the scan-stage work. Instead,
    phase 1 aggregates once per 1-day HOP (the gcd of duration and
    slide; count+sum are decomposable), phase 2 expands only the
    ~O(days) hop rows into the windows containing them and re-sums.
    The Expand now touches hop-count rows, not corpus rows; the one
    full-data shuffle carries day-keyed partials exactly like the
    tumbling lane. Streaming keeps the native window() expression
    (streaming/windows.sliding) — state-store semantics need it; this
    is the batch/DW lane where the rewrite pays."""
    ev = load_table(spark, sf_dir, "events")
    hops = ev.groupBy(
        F.floor(F.col("ts_us") / US_PER_DAY).alias("day")
    ).agg(F.count("*").alias("pn"), F.sum("value").alias("ps"))
    return (
        hops.select(
            "day", "pn", "ps",
            F.explode(F.array(F.lit(0), F.lit(1))).alias("i"),
        )
        .groupBy(
            ((F.col("day") - F.col("i")) * US_PER_DAY).alias("start_us")
        )
        .agg(
            F.sum("pn").alias("n"),
            F.round(F.sum("ps"), 2).alias("sum_val"),
        )
    )


@query(
    "agg_session_window",
    oracle=f"""
    WITH t AS (SELECT user_id, epoch_us(ts) AS us FROM events),
    marked AS (
      SELECT user_id, us,
             CASE WHEN us - lag(us) OVER w > {GAP_US}
                    OR lag(us) OVER w IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM t WINDOW w AS (PARTITION BY user_id ORDER BY us)
    ),
    sessions AS (
      SELECT user_id, us,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY us
                                    ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    )
    SELECT user_id, count(*) AS n,
           min(us) AS start_us, max(us) AS last_us
    FROM sessions
    GROUP BY user_id, sid
    """,
)
def agg_session_window(spark, sf_dir):
    """E5: session windows (30 min gap) over user activity
    (`analytics.events` capture, postgresql-connector.yaml:95).

    Spark session_window end = last event + gap, so last_us is
    recovered as end - gap to match the gaps-and-islands oracle.
    """
    ev = load_table(spark, sf_dir, "events")
    return session(ev, "ts", "30 minutes", "user_id").agg(
        F.count("*").alias("n")
    ).select(
        "user_id",
        "n",
        window_start_us("session_window").alias("start_us"),
        (window_end_us("session_window") - F.lit(GAP_US)).alias("last_us"),
    )


@query(
    "agg_tumbling_window_stream_roundtrip",
    oracle=f"""
    SELECT (epoch_us(ts) // {US_PER_DAY}) * {US_PER_DAY} AS start_us,
           event_type,
           count(*) AS n,
           floor(min(value) * 10000.0 + 0.5) / 10000.0 AS min_val,
           floor(max(value) * 10000.0 + 0.5) / 10000.0 AS max_val
    FROM events
    GROUP BY start_us, event_type
    """,
)
def agg_tumbling_window_stream_roundtrip(spark, sf_dir):
    """E3/E6 EXECUTED behind the correctness gate: the tumbling-window
    aggregation runs as a REAL Structured Streaming query — file
    source, one chunk per micro-batch, every chunk delivered twice
    (at-least-once redelivery, prod-resources.yaml:14-20), stateful
    streaming dropDuplicates(event_id) upgrading delivery to
    effectively-once ACROSS micro-batches, then the incremental
    windowed aggregate in complete output mode — and the emitted
    windows must hash-equal the batch oracle that reads each event
    exactly once. The companion of cdc_stream_latest_state_roundtrip:
    that lane gates the upsert-sink path (E7/E10), this one gates the
    built-in stateful-aggregation path (state store, not foreachBatch).

    Aggregates are chosen order-independent (count/min/max, not
    sum-of-doubles) so incremental state merging is bit-exact against
    the single-pass oracle. Complete-mode output lands via
    foreachBatch overwrite into per-fixture parquet scratch and is
    returned as a LAZY reader — nothing is collected to the driver.
    """
    import tempfile

    from .streaming.replay import (
        drain,
        lane_dir,
        read_event_stream,
        scaled_state_partitions,
        write_event_chunks,
    )

    with tempfile.TemporaryDirectory(
        prefix="stream_wagg_gate_", ignore_cleanup_errors=True
    ) as base:
        chunks = f"{base}/chunks"
        write_event_chunks(spark, sf_dir, chunks, n_chunks=4, repeat=2)
        stream = read_event_stream(spark, chunks)
        agg = (
            stream.dropDuplicates(["event_id"])
            .withColumn("ts", F.timestamp_micros("ts_us"))
            .groupBy(F.window("ts", "1 day"), "event_type")
            .agg(
                F.count("*").alias("n"),
                (F.floor(F.min("value") * 10000.0 + F.lit(0.5)) / 10000.0).alias(
                    "min_val"
                ),
                (F.floor(F.max("value") * 10000.0 + F.lit(0.5)) / 10000.0).alias(
                    "max_val"
                ),
            )
            .select(
                window_start_us().alias("start_us"),
                "event_type",
                "n",
                "min_val",
                "max_val",
            )
        )
        out_dir = lane_dir("tumbling_stream", sf_dir)
        # two stateful operators (dropDuplicates + windowed agg), each
        # one state store per shuffle partition
        with scaled_state_partitions(spark, chunks):
            drain(
                agg.writeStream.foreachBatch(
                    lambda b, _i: b.write.mode("overwrite").parquet(out_dir)
                ).outputMode("complete"),
                f"{base}/cp",
                "agg_tumbling_window_stream_roundtrip",
            )
        return spark.read.schema(agg.schema).parquet(out_dir)


@query(
    "join_stream_static_enrich_roundtrip",
    oracle=f"""
    WITH latest AS (
      SELECT user_id, value AS profile_val FROM (
        SELECT user_id, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        FROM events) WHERE rn = 1
    ),
    enr AS (
      SELECT e.event_type,
             CASE WHEN l.profile_val >= 50.0 THEN 'high' ELSE 'low' END AS tier
      FROM events e JOIN latest l USING (user_id)
    )
    SELECT event_type, tier, count(*) AS n
    FROM enr GROUP BY event_type, tier
    """,
)
def join_stream_static_enrich_roundtrip(spark, sf_dir):
    """C10 (stream-static) EXECUTED behind the correctness gate: the
    canonical CDC enrichment topology — a live stream joined per
    micro-batch against a static dimension snapshot (the reference's
    "Kafka Streams -> enriched data -> Elasticsearch" arrow,
    README.md:75-81) — run as a REAL Structured Streaming query. The
    dimension is the batch latest-state profile per user (the Redis
    contract); every micro-batch broadcast-joins against it and
    appends the enriched rows to a parquet sink; the landed rows,
    re-aggregated, must hash-equal the batch join oracle.

    Determinism: per-row enrichment is independent of micro-batch
    boundaries, and the append sink with checkpoint writes each batch
    exactly once, so the landed multiset equals the batch join no
    matter how chunks are scheduled. The landed rows live in
    per-fixture parquet scratch (replay.lane_dir) and the final
    aggregate is returned as a LAZY reader over them — nothing is
    collected to the driver.
    """
    import tempfile

    from pyspark.sql import Window

    from .streaming.replay import (
        drain,
        lane_dir,
        read_event_stream,
        write_event_chunks,
    )

    with tempfile.TemporaryDirectory(
        prefix="stream_enrich_gate_", ignore_cleanup_errors=True
    ) as base:
        chunks = f"{base}/chunks"
        write_event_chunks(spark, sf_dir, chunks, n_chunks=4)
        ev = load_table(spark, sf_dir, "events")
        w = Window.partitionBy("user_id").orderBy(
            F.desc("ts_us"), F.desc("event_id")
        )
        dim = (
            ev.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("user_id", F.col("value").alias("profile_val"))
        )
        stream = read_event_stream(spark, chunks)
        enriched = stream.join(F.broadcast(dim), "user_id").select(
            "event_type",
            F.when(F.col("profile_val") >= 50.0, "high")
            .otherwise("low")
            .alias("tier"),
        )
        out_dir = lane_dir("enrich_stream", sf_dir)
        drain(
            enriched.writeStream.format("parquet").option("path", out_dir),
            f"{base}/cp",
            "join_stream_static_enrich_roundtrip",
        )
        return (
            spark.read.schema("event_type string, tier string")
            .parquet(out_dir)
            .groupBy("event_type", "tier")
            .agg(F.count("*").alias("n"))
        )


@query(
    "join_stream_stream_roundtrip",
    oracle=f"""
    WITH c AS (
      SELECT user_id, epoch_us(ts) AS ts_us FROM events
      WHERE event_type = 'click'
    ),
    p AS (
      SELECT user_id, epoch_us(ts) AS ts_us FROM events
      WHERE event_type = 'purchase'
    ),
    pairs AS (
      SELECT c.user_id
      FROM c JOIN p ON c.user_id = p.user_id
        AND p.ts_us >= c.ts_us
        AND p.ts_us - c.ts_us <= {US_PER_DAY}
    )
    SELECT user_id, count(*) AS n_pairs
    FROM pairs GROUP BY user_id
    """,
)
def join_stream_stream_roundtrip(spark, sf_dir):
    """C10 (stream-stream) EXECUTED behind the correctness gate: two
    live streams — clicks and purchases read from the same chunked
    log as independent file sources — joined ON THE STREAMING RUNTIME
    (both sides buffered in the join state store, matches emitted as
    they meet) with the attribution band "purchase within one day
    after a click", appended to a parquet sink, re-aggregated, and
    hash-checked against the batch self-join oracle. Completes the
    streaming gate set: upsert sink (E7/E10), stateful agg (E3/E6),
    stream-static (C10a) and now the two-sided stateful join.

    Determinism: an inner stream-stream join without eviction emits
    each qualifying pair exactly once regardless of micro-batch
    scheduling, so the landed multiset equals the batch join. (In
    production you bound the state with watermarks on both sides —
    E2; the gate fixture is finite so completeness matters more than
    eviction here.) Landed pairs live in per-fixture parquet scratch;
    the user-keyed aggregate is returned as a LAZY reader over them —
    nothing is collected to the driver.
    """
    import tempfile

    from .streaming.replay import (
        drain,
        lane_dir,
        read_event_stream,
        scaled_state_partitions,
        write_event_chunks,
    )

    with tempfile.TemporaryDirectory(
        prefix="stream_ssjoin_gate_", ignore_cleanup_errors=True
    ) as base:
        chunks = f"{base}/chunks"
        write_event_chunks(spark, sf_dir, chunks, n_chunks=4)
        clicks = (
            read_event_stream(spark, chunks)
            .where(F.col("event_type") == "click")
            .select(F.col("user_id").alias("c_user"), F.col("ts_us").alias("c_ts"))
        )
        purchases = (
            read_event_stream(spark, chunks)
            .where(F.col("event_type") == "purchase")
            .select(F.col("user_id").alias("p_user"), F.col("ts_us").alias("p_ts"))
        )
        joined = clicks.join(
            purchases,
            (F.col("c_user") == F.col("p_user"))
            & (F.col("p_ts") >= F.col("c_ts"))
            & (F.col("p_ts") - F.col("c_ts") <= US_PER_DAY),
        ).select(F.col("c_user").alias("user_id"))
        out_dir = lane_dir("ssjoin_stream", sf_dir)
        # the two-sided join keeps a state store per shuffle partition
        # per side
        with scaled_state_partitions(spark, chunks):
            drain(
                joined.writeStream.format("parquet").option("path", out_dir),
                f"{base}/cp",
                "join_stream_stream_roundtrip",
            )
        return (
            spark.read.schema("user_id long")
            .parquet(out_dir)
            .groupBy("user_id")
            .agg(F.count("*").alias("n_pairs"))
        )


@query(
    "agg_session_window_stream_roundtrip",
    oracle=f"""
    WITH t AS (SELECT user_id, epoch_us(ts) AS us FROM events),
    marked AS (
      SELECT user_id, us,
             CASE WHEN us - lag(us) OVER w > {GAP_US}
                    OR lag(us) OVER w IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM t WINDOW w AS (PARTITION BY user_id ORDER BY us)
    ),
    sessions AS (
      SELECT user_id, us,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY us
                                    ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    )
    SELECT user_id, count(*) AS n,
           min(us) AS start_us, max(us) AS last_us
    FROM sessions
    GROUP BY user_id, sid
    """,
)
def agg_session_window_stream_roundtrip(spark, sf_dir):
    """E5 EXECUTED behind the correctness gate: session windows on the
    STREAMING state store. Sessions are the hard window type
    incrementally — unlike tumbling windows a new event can MERGE two
    existing sessions, so the state store must split/merge ranges as
    micro-batches arrive out of session order (chunks are ts-ordered
    globally, but a user's events straddle chunks). Complete output
    mode emits the final merged sessions; they must hash-equal the
    batch gaps-and-islands oracle exactly — session count, membership
    and bounds.

    Third state-store surface gated: aggregation (tumbling), join
    (stream-stream), and now session merge.
    """
    import tempfile

    from .streaming.replay import (
        drain,
        lane_dir,
        read_event_stream,
        scaled_state_partitions,
        write_event_chunks,
    )

    with tempfile.TemporaryDirectory(
        prefix="stream_sess_gate_", ignore_cleanup_errors=True
    ) as base:
        chunks = f"{base}/chunks"
        write_event_chunks(spark, sf_dir, chunks, n_chunks=4)
        stream = read_event_stream(spark, chunks).withColumn(
            "ts", F.timestamp_micros("ts_us")
        )
        agg = (
            stream.groupBy(
                "user_id", F.session_window(F.col("ts"), "30 minutes")
            )
            .agg(F.count("*").alias("n"))
            .select(
                "user_id",
                "n",
                window_start_us("session_window").alias("start_us"),
                (window_end_us("session_window") - GAP_US).alias("last_us"),
            )
        )
        # session count grows with the log (sparse activity makes most
        # events singleton sessions) — a memory sink would materialize
        # a log-sized result on the driver. foreachBatch in complete
        # mode receives the FULL result each batch; overwrite parquet
        # in per-fixture scratch, return a lazy reader.
        out_dir = lane_dir("session_stream", sf_dir)
        with scaled_state_partitions(spark, chunks):
            drain(
                agg.writeStream.foreachBatch(
                    lambda b, _i: b.write.mode("overwrite").parquet(out_dir)
                ).outputMode("complete"),
                f"{base}/cp",
                "agg_session_window_stream_roundtrip",
            )
        return spark.read.schema(agg.schema).parquet(out_dir)


_LATE_DELAY_US = 3_600_000_000  # 1 h watermark delay
_LATE_WIN_US = 3_600_000_000  # 1 h tumbling windows
_LATE_ORDER = [0, 2, 3, 1]  # chunk delivery order: chunk 1 arrives LAST


def _write_permuted_chunks(spark, sf_dir: str, out_dir: str) -> None:
    """events split into 4 equal ts-ordered ranges, DELIVERED in
    _LATE_ORDER via mtime stamps: chunk 1 (the second-oldest range)
    arrives after chunks 2 and 3 have already advanced event time by
    hours — real late data, deterministically.

    TEST-FIXTURE GENERATOR, never a production path (the
    write_event_chunks contract, streaming/replay.py): the global
    ts-sort + toPandas here exists only to give the gate a
    deterministic chunk assignment matching the oracle's row_number
    CTE; a production replay reads the log in partition order."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from .sources.catalog import load_table

    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "ts_us", "user_id", "event_type", "value", "props")
        .orderBy("ts_us", "event_id")
        .toPandas()
    )
    os.makedirs(out_dir, exist_ok=True)
    n = len(ev)
    per = (n + 3) // 4
    t0 = time.time() - 10
    for pos, c in enumerate(_LATE_ORDER):
        chunk = ev.iloc[c * per : (c + 1) * per]
        path = f"{out_dir}/chunk_{c:04d}.parquet"
        pq.write_table(pa.Table.from_pandas(chunk, preserve_index=False), path)
        os.utime(path, (t0 + pos, t0 + pos))


@query(
    "events_late_data_drop_roundtrip",
    oracle=f"""
    WITH ordered AS (
      SELECT epoch_us(ts) AS us,
             row_number() OVER (ORDER BY epoch_us(ts), event_id) AS rn,
             count(*) OVER () AS n
      FROM events
    ),
    chunks AS (
      SELECT us, CAST((rn - 1) // ((n + 3) // 4) AS BIGINT) AS c FROM ordered
    ),
    pos AS (  -- delivery position per chunk: order [0,2,3,1]
      SELECT c, us,
             CASE c WHEN 0 THEN 0 WHEN 2 THEN 1 WHEN 3 THEN 2 ELSE 3 END AS p
      FROM chunks
    ),
    wm AS (   -- watermark DURING batch p = ms-floored max ts of earlier
              -- batches minus the delay (no watermark during batch 0)
      SELECT p,
             (max(mx) OVER (ORDER BY p ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING) // 1000) * 1000
               - {_LATE_DELAY_US} AS w
      FROM (SELECT p, max(us) AS mx FROM pos GROUP BY p)
    ),
    kept AS (  -- a late row is dropped iff its WINDOW is already
               -- evicted: window_end <= watermark at delivery time
      SELECT (pos.us // {_LATE_WIN_US}) * {_LATE_WIN_US} AS start_us
      FROM pos JOIN wm USING (p)
      WHERE wm.w IS NULL
         OR (pos.us // {_LATE_WIN_US}) * {_LATE_WIN_US} + {_LATE_WIN_US} > wm.w
    ),
    final_w AS (
      SELECT (max(epoch_us(ts)) // 1000) * 1000 - {_LATE_DELAY_US} AS fw
      FROM events
    )
    SELECT start_us, count(*) AS n
    FROM kept, final_w
    WHERE start_us + {_LATE_WIN_US} <= fw  -- append mode emits only
                                           -- watermark-finalized windows
    GROUP BY start_us
    """,
)
def events_late_data_drop_roundtrip(spark, sf_dir):
    """E2/E8 EXECUTED behind the correctness gate: the watermark
    late-data contract on the real streaming runtime. Chunks are
    delivered OUT of event-time order (order [0,2,3,1] — the
    second-oldest hour-range arrives last, after newer chunks have
    advanced event time), so the windowed aggregate's watermark
    genuinely drops rows: a late row is discarded iff its window was
    already evicted (window_end <= watermark at its delivery batch),
    and append mode emits exactly the windows the FINAL watermark
    finalized. The oracle reconstructs the whole protocol in SQL —
    chunk assignment, per-batch watermark (ms-floored, as Spark
    tracks event time), eviction predicate, final emission set — so
    the gate checks Spark's watermark semantics bit-for-bit, not just
    "some rows were dropped".

    The 12-partition keyed topics guarantee order per key only
    (prod-resources.yaml:94-95); cross-partition interleaving is
    exactly this out-of-order delivery, and prometheus-rules' lag
    alert window is the operational twin of the delay chosen here.
    """
    import tempfile

    from .streaming.replay import (
        EVENT_STREAM_SCHEMA,
        drain,
        lane_dir,
        scaled_state_partitions,
    )

    with tempfile.TemporaryDirectory(
        prefix="stream_late_gate_", ignore_cleanup_errors=True
    ) as base:
        _write_permuted_chunks(spark, sf_dir, f"{base}/chunks")
        stream = (
            spark.readStream.schema(EVENT_STREAM_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{base}/chunks")
            .withColumn("ts", F.timestamp_micros("ts_us"))
        )
        agg = (
            stream.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour"))
            .agg(F.count("*").alias("n"))
            .select(window_start_us().alias("start_us"), "n")
        )
        # append mode emits only watermark-finalized windows, which the
        # file sink supports directly — landed windows live in
        # per-fixture parquet scratch, returned as a LAZY reader with an
        # explicit schema (the dir may hold zero finalized windows at
        # tiny fixtures); nothing is collected to the driver.
        out_dir = lane_dir("late_drop_stream", sf_dir)
        # the watermark is global per micro-batch (max event time -
        # delay), never per partition, so the drop/emission protocol is
        # partition-count invariant
        with scaled_state_partitions(spark, f"{base}/chunks"):
            drain(
                agg.writeStream.outputMode("append")
                .format("parquet")
                .option("path", out_dir),
                f"{base}/cp",
                "events_late_data_drop_roundtrip",
            )
        return spark.read.schema("start_us long, n long").parquet(out_dir)


@query(
    "agg_sliding_window_stream_roundtrip",
    oracle=f"""
    SELECT ((epoch_us(ts) // {US_PER_DAY}) - i) * {US_PER_DAY} AS start_us,
           count(*) AS n,
           floor(min(value) * 10000.0 + 0.5) / 10000.0 AS min_val,
           floor(max(value) * 10000.0 + 0.5) / 10000.0 AS max_val
    FROM events CROSS JOIN (VALUES (0), (1)) AS offs(i)
    GROUP BY start_us
    """,
)
def agg_sliding_window_stream_roundtrip(spark, sf_dir):
    """E4 EXECUTED behind the correctness gate: native sliding windows
    (2-day duration, 1-day slide) on the streaming state store —
    every event lands in exactly two windows via the runtime's Expand,
    merged incrementally across micro-batches, complete mode. Batch
    oracle enumerates the same two offsets per row. Completes the
    streaming window trio (tumbling, session, sliding) on the gated
    runtime; aggregates order-independent (count/min/max) as in the
    tumbling lane. Note the BATCH lane (agg_sliding_window)
    deliberately avoids the Expand via hop-bucketing — at 100 TB the
    streaming state store amortizes the Expand across micro-batches,
    so the native form is the right streaming shape even though the
    bucketed form is the right batch shape. Complete-mode output lands
    via foreachBatch overwrite into per-fixture parquet scratch and is
    returned as a LAZY reader — nothing is collected to the driver.
    """
    import tempfile

    from .streaming.replay import (
        drain,
        lane_dir,
        read_event_stream,
        scaled_state_partitions,
        write_event_chunks,
    )

    with tempfile.TemporaryDirectory(
        prefix="stream_slide_gate_", ignore_cleanup_errors=True
    ) as base:
        chunks = f"{base}/chunks"
        write_event_chunks(spark, sf_dir, chunks, n_chunks=4)
        stream = read_event_stream(spark, chunks).withColumn(
            "ts", F.timestamp_micros("ts_us")
        )
        agg = (
            stream.groupBy(F.window("ts", "2 days", "1 day"))
            .agg(
                F.count("*").alias("n"),
                (F.floor(F.min("value") * 10000.0 + F.lit(0.5)) / 10000.0).alias(
                    "min_val"
                ),
                (F.floor(F.max("value") * 10000.0 + F.lit(0.5)) / 10000.0).alias(
                    "max_val"
                ),
            )
            .select(window_start_us().alias("start_us"), "n", "min_val", "max_val")
        )
        out_dir = lane_dir("sliding_stream", sf_dir)
        with scaled_state_partitions(spark, chunks):
            drain(
                agg.writeStream.foreachBatch(
                    lambda b, _i: b.write.mode("overwrite").parquet(out_dir)
                ).outputMode("complete"),
                f"{base}/cp",
                "agg_sliding_window_stream_roundtrip",
            )
        return spark.read.schema(agg.schema).parquet(out_dir)


@query(
    "events_stream_progress_audit",
    oracle="""
    WITH ordered AS (
      SELECT row_number() OVER (ORDER BY epoch_us(ts), event_id) AS rn,
             count(*) OVER () AS n
      FROM events
    )
    SELECT CAST((rn - 1) // ((n + 3) // 4) AS BIGINT) AS batch_pos,
           count(*) AS n_rows
    FROM ordered GROUP BY batch_pos
    """,
)
def events_stream_progress_audit(spark, sf_dir):
    """E9 EXECUTED behind the correctness gate: the monitoring
    surface itself, scraped over HTTP. The reference's operability
    rests on Prometheus pulling consumer metrics from every component
    (prometheus-config.yaml: scrape_configs at metrics_path /metrics,
    every 15 s; lag alert prometheus-rules.yaml:12-19); the engine's
    equivalents are StreamingQueryListener events rendered by
    MetricsEndpoint as text exposition 0.0.4. This lane runs the
    chunked replay with the LIVE listener + /metrics endpoint up,
    returns what the listener reported — numInputRows per micro-batch
    in delivery order — and the oracle states what the metrics must
    say: exactly the four chunk sizes the fixture generator produced.
    The HTTP scrape is LOAD-BEARING: after the
    drain the lane scrapes the endpoint and requires the exported
    cdc_stream_input_rows_total counter to equal the per-batch sum it
    is about to return — a broken exposition (bad escaping, wrong
    aggregation, dead server) fails the gate, not just a unit test.
    If progress accounting double-counts (e.g. a foreachBatch re-read
    — the bug class a persist of the batch in a multi-branch sink
    prevents), under-reports, or mis-orders batches, the hash breaks.
    """
    import re
    import tempfile
    import time
    import urllib.request
    import uuid

    from .streaming.metrics import MetricsEndpoint, ProgressCapture
    from .streaming.replay import drain, read_event_stream, write_event_chunks

    cap = ProgressCapture()
    spark.streams.addListener(cap)
    try:
        with MetricsEndpoint(cap) as ep, tempfile.TemporaryDirectory(
            prefix="stream_prog_gate_", ignore_cleanup_errors=True
        ) as base:
            chunks = f"{base}/chunks"
            write_event_chunks(spark, sf_dir, chunks, n_chunks=4)
            stream = read_event_stream(spark, chunks)
            name = f"prog_{uuid.uuid4().hex[:12]}"
            q = drain(
                stream.writeStream.queryName(name)
                .outputMode("append")
                .format("noop"),
                f"{base}/cp",
                "events_stream_progress_audit",
            )
            qid = str(q.id)
            # max-per-batchId, the SAME aggregation render_exposition
            # applies to the scraped counter: a plain sum double-counts
            # a re-emitted batchId and fails the scrape equality
            exp_per_batch: dict[int, int] = {}
            for p in q.recentProgress:
                if p["numInputRows"] > 0:
                    exp_per_batch[p["batchId"]] = max(
                        exp_per_batch.get(p["batchId"], 0),
                        int(p["numInputRows"]),
                    )
            expected = sum(exp_per_batch.values())
            # listener callbacks are async — wait for the capture to
            # absorb every progress event before scraping
            deadline = time.time() + 30
            while (
                cap.total_input_rows(qid) < expected
                and time.time() < deadline
            ):
                time.sleep(0.2)
            body = (
                urllib.request.urlopen(
                    f"http://127.0.0.1:{ep.port}/metrics", timeout=10
                )
                .read()
                .decode()
            )
            m = re.search(
                r'^cdc_stream_input_rows_total\{query="%s"\} (\d+)$'
                % re.escape(qid),
                body,
                re.MULTILINE,
            )
            scraped = int(m.group(1)) if m else None
            if scraped != expected:
                raise AssertionError(
                    "events_stream_progress_audit: scraped "
                    f"cdc_stream_input_rows_total={scraped} != runtime "
                    f"total {expected} (endpoint body {len(body)}B)"
                )
        # per-batch rows from the SAME listener the endpoint renders,
        # in delivery (batchId) order, max-per-batch like the counter
        per_batch: dict[int, int] = {}
        for p in cap.progress:
            if str(p["id"]) == qid and p["numInputRows"] > 0:
                per_batch[p["batchId"]] = max(
                    per_batch.get(p["batchId"], 0), int(p["numInputRows"])
                )
        rows = [
            (i, per_batch[b]) for i, b in enumerate(sorted(per_batch))
        ]
        return spark.createDataFrame(rows, "batch_pos long, n_rows long")
    finally:
        spark.streams.removeListener(cap)


@query(
    "udf_stateful_processor_roundtrip",
    oracle="""
    SELECT user_id,
           count(*) AS n_events,
           floor(max(value) * 10000.0 + 0.5) / 10000.0 AS max_val,
           floor(last(value ORDER BY epoch_us(ts), event_id) * 10000.0 + 0.5)
             / 10000.0 AS last_val
    FROM events GROUP BY user_id
    """,
)
def udf_stateful_processor_roundtrip(spark, sf_dir):
    """F-surface stateful processor EXECUTED behind the gate:
    applyInPandasWithState — the engine's analog of a user-supplied
    Kafka Streams processor with a per-key state store
    (userProcessor/orderProcessor, reference values.yaml:71-83) — run
    on the real streaming runtime. A Python function holds per-user
    state (event count, running max, last value by event order)
    across micro-batches, emitting the cumulative row each time the
    key appears; the final emission per key (highest n_events) must
    equal the batch aggregate. Rows inside a micro-batch arrive in
    arbitrary order AND one key's rows may span several Arrow chunks
    in arbitrary chunk order, so the state itself carries the last
    event's (ts_us, event_id) watermark and last_val only advances
    past it — the same per-key total-order discipline every CDC
    kernel uses, made chunk-order-proof.

    Completes the gated streaming surface set: built-in stateful ops
    (windows, dedup, joins), sink-side state (upsert/SCD2), and now
    USER state via the Arrow-batched API. Emissions land in
    per-fixture parquet scratch; the final-per-key selection is
    returned as a LAZY reader over them — nothing is collected to the
    driver.
    """
    import tempfile

    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from .streaming.replay import (
        drain,
        lane_dir,
        read_event_stream,
        scaled_state_partitions,
        write_event_chunks,
    )

    def track(key, pdfs, state: GroupState):
        # One key's micro-batch rows can be split across several Arrow
        # chunks delivered in ARBITRARY order, so "last chunk's last
        # row" is not the last event. The state carries the current
        # last event's (ts_us, event_id) and last_val only advances
        # when a chunk's max-order row exceeds that watermark — chunk
        # arrival order can no longer leak into the answer. A
        # checkpoint written under another stateStructType cannot be
        # resumed; this lane always starts from a fresh one.
        (uid,) = key
        if state.exists:
            n, mx, last, lts, leid = state.get
        else:
            n, mx, last, lts, leid = 0, float("-inf"), 0.0, -1, -1
        for pdf in pdfs:
            n += len(pdf)
            mx = max(mx, float(pdf["value"].max()))
            # O(k) argmax of (ts_us, event_id) — a full chunk sort to
            # read one row would be O(k log k) + a copy per chunk per
            # key on the hot path
            at_max = pdf[pdf["ts_us"] == pdf["ts_us"].max()]
            top = at_max.loc[at_max["event_id"].idxmax()]
            if (int(top["ts_us"]), int(top["event_id"])) > (lts, leid):
                lts, leid = int(top["ts_us"]), int(top["event_id"])
                last = float(top["value"])
        state.update((n, mx, last, lts, leid))
        yield pd.DataFrame(
            {"user_id": [uid], "n_events": [n], "max_val": [mx], "last_val": [last]}
        )

    with tempfile.TemporaryDirectory(
        prefix="stream_state_udf_gate_", ignore_cleanup_errors=True
    ) as base:
        chunks = f"{base}/chunks"
        write_event_chunks(spark, sf_dir, chunks, n_chunks=4)
        stream = read_event_stream(spark, chunks)
        emitted = stream.groupBy("user_id").applyInPandasWithState(
            track,
            outputStructType="user_id long, n_events long, max_val double, "
            "last_val double",
            stateStructType="n long, mx double, last double, "
            "lts long, leid long",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        out_dir = lane_dir("stateful_udf_stream", sf_dir)
        # which micro-batch a key appears in is chunk-determined, never
        # partition-determined, so emissions — and the max-n_events
        # final selection — are partition-count invariant; the per-key
        # user Python sets the 0.25 MB density
        with scaled_state_partitions(spark, chunks, mb_per_partition=0.25):
            drain(
                emitted.writeStream.outputMode("append")
                .format("parquet")
                .option("path", out_dir),
                f"{base}/cp",
                "udf_stateful_processor_roundtrip",
            )
        out = spark.read.schema(
            "user_id long, n_events long, max_val double, last_val double"
        ).parquet(out_dir)
        # final emission per key = the one carrying the full count
        from pyspark.sql import Window

        w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
        return (
            out.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select(
                "user_id",
                "n_events",
                (F.floor(F.col("max_val") * 10000.0 + F.lit(0.5)) / 10000.0).alias(
                    "max_val"
                ),
                (F.floor(F.col("last_val") * 10000.0 + F.lit(0.5)) / 10000.0).alias(
                    "last_val"
                ),
            )
        )


def _tws_available() -> bool:
    """transformWithStateInPandas ships its state protocol over
    protobuf: the Python worker imports google.protobuf.descriptor at
    stream start and crashes without it. protobuf is on this repo's
    documented environment-blocker ledger (SCALE.md), so the lane
    registers only when the import succeeds — the code is complete
    and self-activates the moment the environment gains protobuf."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


_TWS_ORACLE = """
    SELECT user_id,
           count(*) AS n_events,
           floor(max(value) * 10000.0 + 0.5) / 10000.0 AS max_val,
           floor(last(value ORDER BY epoch_us(ts), event_id) * 10000.0 + 0.5)
             / 10000.0 AS last_val
    FROM events GROUP BY user_id
    """


def udf_stateful_tws_roundtrip(spark, sf_dir):
    """F-surface stateful processor on transformWithStateInPandas —
    Spark 4's arbitrary-state API (typed state variables on a RocksDB
    store, the successor of applyInPandasWithState) — run on the real
    streaming runtime behind the gate, SAME oracle contract as
    udf_stateful_processor_roundtrip so the two stateful APIs are
    differentially verified against one batch aggregate.

    The processor holds one ValueState row per user (count, running
    max, last value by (ts_us, event_id) order) and emits the
    cumulative row each time the key appears; chunk-order robustness
    is the same watermark-on-(ts,event_id) discipline as the classic
    lane. The RocksDB state-store provider is REQUIRED by
    transformWithState; it is set for this query's checkpoint only
    and restored after (the other gate lanes keep the default HDFS
    store their checkpoints were written with).

    Scale shape: state is one fixed-width row per user in RocksDB —
    the shape that spills to disk instead of executor heap at 100 TB
    key cardinalities, which is the API's reason to exist.
    """
    import tempfile

    import pandas as pd

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    from .streaming.replay import (
        drain,
        lane_dir,
        read_event_stream,
        scaled_state_partitions,
        write_event_chunks,
    )

    class Track(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._st = handle.getValueState(
                "agg", "n long, mx double, last double, lts long, leid long"
            )

        def handleInputRows(self, key, rows, timerValues):
            (uid,) = key
            if self._st.exists():
                n, mx, last, lts, leid = self._st.get()
            else:
                n, mx, last, lts, leid = 0, float("-inf"), 0.0, -1, -1
            for pdf in rows:
                n += len(pdf)
                mx = max(mx, float(pdf["value"].max()))
                at_max = pdf[pdf["ts_us"] == pdf["ts_us"].max()]
                top = at_max.loc[at_max["event_id"].idxmax()]
                if (int(top["ts_us"]), int(top["event_id"])) > (lts, leid):
                    lts, leid = int(top["ts_us"]), int(top["event_id"])
                    last = float(top["value"])
            self._st.update((n, mx, last, lts, leid))
            yield pd.DataFrame(
                {
                    "user_id": [uid],
                    "n_events": [n],
                    "max_val": [mx],
                    "last_val": [last],
                }
            )

        def close(self) -> None:
            pass

    provider_key = "spark.sql.streaming.stateStore.providerClass"
    rocks = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    old_provider = spark.conf.get(provider_key, None)
    try:
        with tempfile.TemporaryDirectory(
            prefix="stream_tws_gate_", ignore_cleanup_errors=True
        ) as base:
            chunks = f"{base}/chunks"
            write_event_chunks(spark, sf_dir, chunks, n_chunks=4)
            stream = read_event_stream(spark, chunks)
            spark.conf.set(provider_key, rocks)
            emitted = stream.groupBy("user_id").transformWithStateInPandas(
                statefulProcessor=Track(),
                outputStructType="user_id long, n_events long, max_val double, "
                "last_val double",
                outputMode="Append",
                timeMode="None",
            )
            out_dir = lane_dir("tws_stream", sf_dir)
            # emissions are partition-count invariant (same argument as
            # the classic stateful lane); per-key user Python sets the
            # 0.25 MB density
            with scaled_state_partitions(spark, chunks, mb_per_partition=0.25):
                drain(
                    emitted.writeStream.outputMode("append")
                    .format("parquet")
                    .option("path", out_dir),
                    f"{base}/cp",
                    "udf_stateful_tws_roundtrip",
                )
            out = spark.read.schema(
                "user_id long, n_events long, max_val double, last_val double"
            ).parquet(out_dir)
            from pyspark.sql import Window

            w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
            return (
                out.withColumn("rn", F.row_number().over(w))
                .where(F.col("rn") == 1)
                .select(
                    "user_id",
                    "n_events",
                    (
                        F.floor(F.col("max_val") * 10000.0 + F.lit(0.5)) / 10000.0
                    ).alias("max_val"),
                    (
                        F.floor(F.col("last_val") * 10000.0 + F.lit(0.5)) / 10000.0
                    ).alias("last_val"),
                )
            )
    finally:
        if old_provider is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, old_provider)


if _tws_available():  # pragma: no cover - environment-gated
    query("udf_stateful_tws_roundtrip", oracle=_TWS_ORACLE)(
        udf_stateful_tws_roundtrip
    )


@query(
    "udf_session_timeout_roundtrip",
    # Emitted sessions = every gap-closed session (a later event for
    # the same user exists) plus each user's FINAL session iff the
    # terminal watermark (global max event time - delay) passed its
    # (last event + gap) timeout — exactly the EventTimeTimeout
    # firing rule under ts-ordered chunk delivery with a trailing
    # no-data micro-batch. Both sides of that comparison are at MS
    # granularity, mirroring the stream exactly: the
    # lane sets timeout = (last_us+gap)//1000 + 1 ms and Spark's
    # watermark is floor(max_us/1000) - delay_ms, fired on strict <.
    # A µs-strict oracle would emit a final session whose last+gap
    # lands within the ~1 ms truncation window that the stream never
    # fires.
    oracle=f"""
    WITH t AS (SELECT user_id, epoch_us(ts) AS us FROM events),
    marked AS (
      SELECT user_id, us,
             CASE WHEN us - lag(us) OVER w > {GAP_US}
                    OR lag(us) OVER w IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM t WINDOW w AS (PARTITION BY user_id ORDER BY us)
    ),
    numbered AS (
      SELECT user_id, us,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY us
                                    ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    ),
    sess AS (
      SELECT user_id, sid, count(*) AS n,
             min(us) AS start_us, max(us) AS last_us
      FROM numbered GROUP BY user_id, sid
    ),
    finals AS (
      SELECT user_id, max(sid) AS fsid FROM sess GROUP BY user_id
    )
    SELECT s.user_id, s.n, s.start_us, s.last_us
    FROM sess s JOIN finals f ON s.user_id = f.user_id
    WHERE s.sid < f.fsid
       OR (s.last_us + {GAP_US}) // 1000 + 1 <
          (SELECT max(us) // 1000 - {60 * 1_000} FROM t)
    """,
)
def udf_session_timeout_roundtrip(spark, sf_dir):
    """E5/F-surface EventTimeTimeout EXECUTED behind the gate:
    user-session tracking where sessions close through BOTH paths the
    stateful API offers — a new event past the 30 min gap splits
    in-processor, and a user who never returns has their open session
    flushed by the EVENT-TIME TIMEOUT when the watermark (driven by
    OTHER users' events) passes last_event + gap. Every other
    stateful lane uses GroupStateTimeout.NoTimeout; this lane gates
    the timeout machinery itself — registration, hasTimedOut
    delivery, and the trailing no-data micro-batch that fires
    timeouts after the last file (noDataMicroBatches).

    Determinism: chunks are ts-ordered slices with strictly increasing
    mtimes, so the watermark after batch k is exactly
    max(ts of chunks <= k) - 1 min, and the terminal no-data batch
    fires every timeout below global_max - 1 min; the oracle mirrors
    that rule in SQL (each user's final session is emitted iff
    last + gap < global_max - delay). Within-batch multi-session
    bursts split on the sorted event list, so one micro-batch can
    emit several sessions for one key. repeat=1: the redelivery
    contract is gated by the sink lanes; timeout semantics compose
    with dedup, not with raw replay.
    """
    import tempfile

    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from .streaming.replay import (
        drain,
        lane_dir,
        read_event_stream,
        scaled_state_partitions,
        write_event_chunks,
    )

    gap_us = GAP_US
    delay = "1 minute"

    def track(key, pdfs, state: GroupState):
        (uid,) = key
        if state.hasTimedOut:
            start, last, n = state.get
            state.remove()
            yield pd.DataFrame(
                {"user_id": [uid], "n": [n], "start_us": [start], "last_us": [last]}
            )
            return
        ev = pd.concat(list(pdfs), ignore_index=True)
        ev = ev.sort_values(["ts_us", "event_id"])
        if state.exists:
            start, last, n = state.get
        else:
            start, last, n = None, None, 0
        out_rows = []
        for ts in ev["ts_us"].tolist():
            ts = int(ts)
            if start is None:
                start, last, n = ts, ts, 1
            elif ts - last > gap_us:
                out_rows.append((uid, n, start, last))
                start, last, n = ts, ts, 1
            else:
                last, n = ts, n + 1
        state.update((start, last, n))
        # fire when the watermark passes last + gap (ms precision)
        state.setTimeoutTimestamp((last + gap_us) // 1000 + 1)
        if out_rows:
            yield pd.DataFrame(
                {
                    "user_id": [r[0] for r in out_rows],
                    "n": [r[1] for r in out_rows],
                    "start_us": [r[2] for r in out_rows],
                    "last_us": [r[3] for r in out_rows],
                }
            )

    with tempfile.TemporaryDirectory(
        prefix="stream_session_timeout_gate_", ignore_cleanup_errors=True
    ) as base:
        chunks = f"{base}/chunks"
        write_event_chunks(spark, sf_dir, chunks, n_chunks=4)
        stream = (
            read_event_stream(spark, chunks)
            .withColumn("ts", F.timestamp_micros("ts_us"))
            .withWatermark("ts", delay)
        )
        emitted = stream.groupBy("user_id").applyInPandasWithState(
            track,
            outputStructType="user_id long, n long, start_us long, last_us long",
            stateStructType="start long, last long, n long",
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
        # emitted sessions land in per-fixture parquet scratch and are
        # returned as a LAZY reader — nothing is collected to the
        # driver.
        out_dir = lane_dir("session_timeout_stream", sf_dir)
        # the watermark driving EventTimeTimeout is global per
        # micro-batch, so timeout firing — and the emitted session set —
        # is partition-count invariant; per-key user Python sets the
        # 0.25 MB density
        with scaled_state_partitions(spark, chunks, mb_per_partition=0.25):
            drain(
                emitted.writeStream.outputMode("append")
                .format("parquet")
                .option("path", out_dir),
                f"{base}/cp",
                "udf_session_timeout_roundtrip",
            )
        return spark.read.schema(
            "user_id long, n long, start_us long, last_us long"
        ).parquet(out_dir)
