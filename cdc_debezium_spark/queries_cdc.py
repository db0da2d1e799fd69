"""Driver keys for sources + the CDC kernel (SURVEY.md §2.A / §2.B).

Each query has a DuckDB oracle over the same parquet; the shared
``cdc_events`` CTE mirrors operators.cdc.cdc_events exactly
(FIXTURES.md "Derived CDC-envelope view").
"""

from __future__ import annotations

import pyspark.sql.functions as F

from .operators import cdc
from .registry import query
from .sources.catalog import load_table
from .sources.debezium import route_topic

# Shared oracle CTE — must stay in lockstep with operators.cdc.cdc_events.
CDC_CTE = """
WITH cdc_events AS (
  SELECT
    event_id AS ord2,
    ts,
    epoch_us(ts) AS ts_us,
    user_id AS pk,
    CASE event_type WHEN 'signup' THEN 'c' WHEN 'error' THEN 'd' ELSE 'u' END AS op,
    value AS val,
    props
  FROM events
)
"""


# ---------------------------------------------------------------------------
# §2.A sources
# ---------------------------------------------------------------------------

@query(
    "scan_events",
    oracle="""
    SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type,
           round(value, 2) AS val, props
    FROM events
    """,
)
def scan_events(spark, sf_dir):
    """A1: full scan of the change/event log (the CDC topic analog)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        "ts_us",
        "user_id",
        "event_type",
        F.round("value", 2).alias("val"),
        "props",
    )


@query(
    "filter_table_include",
    oracle="""
    SELECT event_id, user_id, event_type
    FROM events
    WHERE event_type IN ('click', 'view', 'purchase')
    """,
)
def filter_table_include(spark, sf_dir):
    """A5: table.include.list analog — capture only listed streams
    (reference postgresql-connector.yaml:39). Predicate pushes to scan."""
    ev = load_table(spark, sf_dir, "events")
    return ev.filter(F.col("event_type").isin("click", "view", "purchase")).select(
        "event_id", "user_id", "event_type"
    )


@query(
    "snapshot_union_stream",
    oracle=CDC_CTE
    + f"""
    SELECT pk, ord2, ts_us, 'r' AS op, val
    FROM cdc_events WHERE ts_us <= {cdc.SNAPSHOT_CUT_US}
    UNION ALL
    SELECT pk, ord2, ts_us, op, val
    FROM cdc_events WHERE ts_us > {cdc.SNAPSHOT_CUT_US}
    """,
)
def snapshot_union_stream(spark, sf_dir):
    """A4: snapshot.mode=initial — full read emitted as op='r' rows,
    then the live stream (reference postgresql-connector.yaml:47)."""
    ce = cdc.cdc_events(spark, sf_dir).select("pk", "ord2", "ts_us", "op", "val")
    snap = ce.filter(F.col("ts_us") <= cdc.SNAPSHOT_CUT_US).withColumn("op", F.lit("r"))
    stream = ce.filter(F.col("ts_us") > cdc.SNAPSHOT_CUT_US)
    return snap.unionByName(stream)


@query(
    "json_roundtrip",
    oracle="""
    SELECT event_id,
           CAST(props->>'k' AS INT) AS k,
           to_json(struct_pack(k := CAST(props->>'k' AS INT))) AS js
    FROM events
    """,
)
def json_roundtrip(spark, sf_dir):
    """A12: schemaless-JSON wire format — parse then re-serialize
    (JsonConverter with schemas.enable=false, prod-resources.yaml:10-13)."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int").alias("k")
    return ev.select("event_id", k).withColumn("js", F.to_json(F.struct(F.col("k"))))


# ---------------------------------------------------------------------------
# §2.B SMT chain + CDC kernels
# ---------------------------------------------------------------------------

@query(
    "route_regex",
    oracle=r"""
    SELECT regexp_extract('prod.public.' || event_type,
                          '([^.]+)\.([^.]+)\.([^.]+)', 3) AS routed,
           count(*) AS n_events
    FROM events
    GROUP BY routed
    """,
)
def route_regex(spark, sf_dir):
    """B1: RegexRouter SMT — strip env+schema prefix, route to bare
    table name (reference postgresql-connector.yaml:50-53)."""
    ev = load_table(spark, sf_dir, "events")
    topic = F.concat(F.lit("prod.public."), F.col("event_type"))
    return (
        ev.withColumn("routed", route_topic(topic))
        .groupBy("routed")
        .agg(F.count("*").alias("n_events"))
    )


@query(
    "cdc_unwrap",
    oracle=CDC_CTE + "SELECT pk, ord2, ts_us, op, val, props FROM cdc_events",
)
def cdc_unwrap(spark, sf_dir):
    """B2: ExtractNewRecordState — envelope → flat payload row
    (reference postgresql-connector.yaml:54)."""
    return cdc.cdc_events(spark, sf_dir).select("pk", "ord2", "ts_us", "op", "val", "props")


@query(
    "cdc_delete_rewrite",
    oracle=CDC_CTE
    + """
    SELECT pk, ord2, ts_us, op, val, (op = 'd') AS __deleted
    FROM cdc_events
    """,
)
def cdc_delete_rewrite(spark, sf_dir):
    """B3: delete.handling.mode=rewrite — deletes become rows flagged
    __deleted (reference postgresql-connector.yaml:56)."""
    ce = cdc.cdc_events(spark, sf_dir)
    return ce.select("pk", "ord2", "ts_us", "op", "val").withColumn(
        "__deleted", F.col("op") == "d"
    )


@query(
    "type_coercion",
    oracle="""
    SELECT o_orderkey,
           CAST(CAST(CAST(o_totalprice AS VARCHAR) AS DECIMAL(18,2)) AS VARCHAR)
             AS total_dec,
           CAST(o_orderdate AS DATE) AS od
    FROM orders
    """,
)
def type_coercion(spark, sf_dir):
    """B5: decimal-as-string + temporal modes — reference transports
    NUMERIC as strings (decimal.handling.mode=string,
    postgresql-connector.yaml:48) and time at µs precision (line 49);
    the engine casts at the boundary.

    total_dec is emitted as the canonical scale-2 decimal STRING on
    both sides: DECIMAL(18,2) wire representations differ between
    engines even when every value compares equal."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.col("o_totalprice")
        .cast("string")
        .cast("decimal(18,2)")
        .cast("string")
        .alias("total_dec"),
        F.col("o_orderdate").cast("date").alias("od"),
    )


@query(
    "cdc_latest_state",
    oracle=CDC_CTE
    + """
    SELECT pk, ts_us AS last_ts_us, val AS last_val, props AS last_props
    FROM (
      SELECT * FROM cdc_events
      QUALIFY row_number() OVER (PARTITION BY pk ORDER BY ts_us DESC, ord2 DESC) = 1
    )
    WHERE op <> 'd'
    """,
)
def cdc_latest_state(spark, sf_dir):
    """B6: log-compaction semantics — newest event per key wins,
    deleted keys vanish (the Redis/ES/DW contract, README.md:48-51)."""
    ce = cdc.cdc_events(spark, sf_dir)
    return cdc.latest_state(ce).select(
        "pk",
        F.col("ts_us").alias("last_ts_us"),
        F.col("val").alias("last_val"),
        F.col("props").alias("last_props"),
    )


@query(
    "cdc_scd2_history",
    oracle=CDC_CTE
    + """
    SELECT pk, ord2, op, val,
           ts_us AS valid_from_us,
           lead(ts_us) OVER (PARTITION BY pk ORDER BY ts_us, ord2) AS valid_to_us
    FROM cdc_events
    """,
)
def cdc_scd2_history(spark, sf_dir):
    """B7: SCD2 audit history over the retained log
    (500Gi io2 log volumes, prod-resources.yaml:126-134)."""
    ce = cdc.cdc_events(spark, sf_dir)
    return cdc.scd2(ce).select("pk", "ord2", "op", "val", "valid_from_us", "valid_to_us")


@query(
    "cdc_as_of_snapshot",
    oracle=CDC_CTE
    + f"""
    SELECT pk, ts_us AS last_ts_us, val AS last_val
    FROM (
      SELECT * FROM cdc_events WHERE ts_us <= {cdc.AS_OF_2024_01_15_US}
      QUALIFY row_number() OVER (PARTITION BY pk ORDER BY ts_us DESC, ord2 DESC) = 1
    )
    WHERE op <> 'd'
    """,
)
def cdc_as_of_snapshot(spark, sf_dir):
    """B8: state as of 2024-01-15 — replay the log up to T, compact
    (replayability per backup.sh appendix, setup-infrastructure.sh:386-441)."""
    ce = cdc.cdc_events(spark, sf_dir)
    return cdc.as_of_snapshot(ce, cdc.AS_OF_2024_01_15_US).select(
        "pk",
        F.col("ts_us").alias("last_ts_us"),
        F.col("val").alias("last_val"),
    )


@query(
    "dedup_exact",
    oracle=CDC_CTE
    + """
    SELECT DISTINCT pk, ord2, ts_us, op, val
    FROM (
      SELECT pk, ord2, ts_us, op, val FROM cdc_events
      UNION ALL
      SELECT pk, ord2, ts_us, op, val FROM cdc_events
    )
    """,
)
def dedup_exact(spark, sf_dir):
    """C22/E6: at-least-once redelivery absorbed on the (pk, ord)
    identity (offset flush every 5 s ⇒ replays on crash,
    prod-resources.yaml:14-20). Duplicates injected in-query."""
    ce = cdc.cdc_events(spark, sf_dir).select("pk", "ord2", "ts_us", "op", "val")
    doubled = ce.unionByName(ce)
    return cdc.dedup_exact(doubled, ["pk", "ord2"])


@query(
    "cdc_schema_drift_stats",
    oracle="""
    WITH kv AS (
      SELECT unnest(json_keys(props)) AS key,
             unnest(list_transform(json_keys(props),
                    k -> json_extract_string(props, '$.' || k))) AS val
      FROM events
    )
    SELECT key, count(*) AS n_events,
           count(DISTINCT val) AS n_values,
           (key = 'k') AS is_expected
    FROM kv GROUP BY key
    """,
)
def cdc_schema_drift_stats(spark, sf_dir):
    """A7 as a queryable surface: per-key payload-schema census over
    the schemaless JSON lane (JsonConverter schemas.enable=false,
    prod-resources.yaml:12-13). Every key seen in the wire payloads is
    counted and flagged against the expected schema — the batch analog
    of the schema-change side topic: drift shows up as is_expected =
    false rows. from_json into map<string,string> is the permissive
    drift lane (SURVEY §1.3); one partial-agg shuffle on the key."""
    ev = load_table(spark, sf_dir, "events")
    kv = ev.select(
        F.explode(F.from_json("props", "map<string,string>")).alias("key", "val")
    )
    return kv.groupBy("key").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("val").alias("n_values"),
    ).withColumn("is_expected", F.col("key") == "k")


@query(
    "cdc_agg_view",
    oracle=CDC_CTE
    + """
    SELECT pk % 16 AS bucket_id, count(*) AS n_keys,
           CAST(sum(CAST(val AS DECIMAL(18,6))) AS DOUBLE) AS sum_last_val,
           max(ts_us) AS max_ts_us
    FROM (
      SELECT * FROM cdc_events
      QUALIFY row_number() OVER (PARTITION BY pk ORDER BY ts_us DESC, ord2 DESC) = 1
    )
    WHERE op <> 'd'
    GROUP BY bucket_id
    """,
)
def cdc_agg_view(spark, sf_dir):
    """Aggregated view over latest-state: per-bucket live-key count,
    exact-decimal value sum, and freshness watermark — the DW
    "aggregated data" contract (README.md:78-80) as a queryable batch
    surface. Buckets are pk % 16 (engine-exact integers)."""
    ce = cdc.cdc_events(spark, sf_dir)
    live = cdc.latest_state(ce)
    return live.groupBy((F.col("pk") % 16).alias("bucket_id")).agg(
        F.count("*").alias("n_keys"),
        F.sum(F.col("val").cast("decimal(18,6)"))
        .cast("double")
        .alias("sum_last_val"),
        F.max("ts_us").alias("max_ts_us"),
    )


@query(
    "cdc_pipeline_metrics",
    oracle="""
    SELECT epoch_us(ts) // 3600000000 AS hour_bucket, event_type,
           count(*) AS n_events,
           count(DISTINCT user_id) AS n_users,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY hour_bucket, event_type
    """,
)
def cdc_pipeline_metrics(spark, sf_dir):
    """E9 as a queryable surface: per-hour, per-topic pipeline health
    rollup — the batch analog of the reference's Prometheus rate/lag
    panels (prometheus-rules.yaml:12-37; 15 s scrape cadence rolled to
    hours here). Hour buckets are integer µs division (engine-exact);
    value sums are exact decimals (value carries <=6dp, checked).
    One partial-agg shuffle; at 100 TB this is the map-side-combine
    shape that motivated the DW sink."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.expr("ts_us div 3600000000").alias("hour_bucket"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
    )


@query(
    "cdc_snapshot_diff",
    oracle=CDC_CTE
    + f"""
    , s1 AS (
      SELECT pk, val FROM (
        SELECT * FROM cdc_events WHERE ts_us <= {cdc.AS_OF_2024_01_15_US}
        QUALIFY row_number() OVER (PARTITION BY pk ORDER BY ts_us DESC, ord2 DESC) = 1
      ) WHERE op <> 'd'
    ),
    s2 AS (
      SELECT pk, val FROM (
        SELECT * FROM cdc_events
        QUALIFY row_number() OVER (PARTITION BY pk ORDER BY ts_us DESC, ord2 DESC) = 1
      ) WHERE op <> 'd'
    )
    SELECT
      CASE WHEN s1.pk IS NULL THEN 'added'
           WHEN s2.pk IS NULL THEN 'removed'
           WHEN s1.val <> s2.val THEN 'changed'
           ELSE 'unchanged' END AS change,
      count(*) AS n_keys
    FROM s1 FULL OUTER JOIN s2 ON s1.pk = s2.pk
    GROUP BY change
    """,
)
def cdc_snapshot_diff(spark, sf_dir):
    """Snapshot reconciliation: diff the materialized state at two
    instants (as-of 2024-01-15 vs now) into added/removed/changed/
    unchanged key counts — the DR/backup verification the reference
    scripts around topic backups (setup-infrastructure.sh:386-441)
    as a single full-outer-join query. Both snapshots window on pk, so
    the join is co-partitioned; at 100 TB this runs where the state
    lives with no extra shuffle."""
    ce = cdc.cdc_events(spark, sf_dir)
    s1 = cdc.as_of_snapshot(ce, cdc.AS_OF_2024_01_15_US).select(
        F.col("pk").alias("pk1"), F.col("val").alias("val1")
    )
    s2 = cdc.latest_state(ce).select(
        F.col("pk").alias("pk2"), F.col("val").alias("val2")
    )
    joined = s1.join(s2, F.col("pk1") == F.col("pk2"), "full_outer")
    change = (
        F.when(F.col("pk1").isNull(), "added")
        .when(F.col("pk2").isNull(), "removed")
        .when(F.col("val1") != F.col("val2"), "changed")
        .otherwise("unchanged")
    )
    return joined.groupBy(change.alias("change")).agg(
        F.count("*").alias("n_keys")
    )


@query(
    "cdc_table_changes",
    oracle=CDC_CTE
    + f"""
    , s1 AS (
      SELECT pk, ts_us, val FROM (
        SELECT * FROM cdc_events WHERE ts_us <= {cdc.AS_OF_2024_01_15_US}
        QUALIFY row_number() OVER (PARTITION BY pk ORDER BY ts_us DESC, ord2 DESC) = 1
      ) WHERE op <> 'd'
    ),
    s2 AS (
      SELECT pk, ts_us, val FROM (
        SELECT * FROM cdc_events
        QUALIFY row_number() OVER (PARTITION BY pk ORDER BY ts_us DESC, ord2 DESC) = 1
      ) WHERE op <> 'd'
    ),
    j AS (
      SELECT coalesce(s1.pk, s2.pk) AS pk,
             s1.ts_us AS o_ts, s1.val AS o_val,
             s2.ts_us AS n_ts, s2.val AS n_val,
             s1.pk IS NULL AS ins, s2.pk IS NULL AS del
      FROM s1 FULL OUTER JOIN s2 ON s1.pk = s2.pk
    )
    SELECT pk, n_ts AS ts_us, n_val AS val, 'insert' AS change_type
    FROM j WHERE ins
    UNION ALL
    SELECT pk, o_ts, o_val, 'delete' FROM j WHERE del
    UNION ALL
    SELECT pk, o_ts, o_val, 'update_preimage' FROM j
    WHERE NOT ins AND NOT del
      AND (o_ts IS DISTINCT FROM n_ts OR o_val IS DISTINCT FROM n_val)
    UNION ALL
    SELECT pk, n_ts, n_val, 'update_postimage' FROM j
    WHERE NOT ins AND NOT del
      AND (o_ts IS DISTINCT FROM n_ts OR o_val IS DISTINCT FROM n_val)
    """,
)
def cdc_table_changes(spark, sf_dir):
    """Row-level CHANGE DATA FEED between two table versions (the
    Delta `table_changes` contract): diff the state as-of 2024-01-15
    against the latest state into insert / delete / update_preimage /
    update_postimage rows; unchanged keys emit nothing. Runs the same
    txlog.snapshot_changes kernel TxTable.table_changes uses over real
    commits (tests/test_streaming.py::test_txtable_change_data_feed) —
    one full-outer join on pk plus an explode over changed rows only."""
    from .streaming.txlog import snapshot_changes

    ce = cdc.cdc_events(spark, sf_dir)
    s1 = cdc.as_of_snapshot(ce, cdc.AS_OF_2024_01_15_US).select("pk", "ts_us", "val")
    s2 = cdc.latest_state(ce).select("pk", "ts_us", "val")
    return snapshot_changes(s1, s2, keys=["pk"]).withColumnRenamed(
        "_change_type", "change_type"
    )


@query(
    "cdc_gdpr_erasure",
    oracle=CDC_CTE
    + """
    , hist AS (
      SELECT pk, ord2, op, val,
             ts_us AS valid_from_us,
             lead(ts_us) OVER (PARTITION BY pk ORDER BY ts_us, ord2) AS valid_to_us
      FROM cdc_events
    ),
    erase AS (SELECT DISTINCT pk FROM cdc_events WHERE op = 'd')
    SELECT h.pk, h.ord2, h.op,
           CASE WHEN e.pk IS NULL THEN h.val END AS val,
           h.valid_from_us, h.valid_to_us,
           e.pk IS NOT NULL AS erased
    FROM hist h LEFT JOIN erase e ON h.pk = e.pk
    """,
)
def cdc_gdpr_erasure(spark, sf_dir):
    """Right-to-be-forgotten propagation through retained history: any
    key that ever received a delete is an erasure request, and every
    history row for it keeps its audit skeleton (key, ordinal, op,
    validity interval) but loses its payload — the "drop the payload,
    keep the lineage" GDPR pattern for CDC logs, where physically
    removing rows would break ordinal/interval audits downstream.

    Note this is NOT latest-state drop_deleted: a delete followed by a
    re-create survives compaction, but under erasure the re-created
    rows are redacted too. Plan: the SCD2 window (one shuffle on pk)
    plus a left join against the distinct erased-key set — an
    aggregated frame orders of magnitude smaller than the log, which
    AQE broadcasts at any realistic erasure-request rate."""
    ce = cdc.cdc_events(spark, sf_dir)
    hist = cdc.scd2(ce).select(
        "pk", "ord2", "op", "val", "valid_from_us", "valid_to_us"
    )
    erase = (
        ce.where(F.col("op") == "d")
        .select("pk")
        .distinct()
        .withColumn("_erased", F.lit(True))
    )
    return hist.join(erase, "pk", "left").select(
        "pk",
        "ord2",
        "op",
        F.when(F.col("_erased").isNull(), F.col("val")).alias("val"),
        "valid_from_us",
        "valid_to_us",
        F.coalesce("_erased", F.lit(False)).alias("erased"),
    )


@query(
    "events_rate_anomaly",
    oracle="""
    WITH hc AS (
      SELECT event_type, epoch_us(ts) // 3600000000 AS hr,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY event_type, hr
    ),
    stats AS (
      SELECT event_type,
             CAST(sum(n) AS BIGINT) AS s,
             CAST(sum(n * n) AS BIGINT) AS ss,
             CAST(count(*) AS BIGINT) AS cnt
      FROM hc GROUP BY event_type
    ),
    z AS (
      SELECT hc.event_type, hc.hr, hc.n,
             CAST(s AS DOUBLE) / cnt AS mean,
             (CAST(ss AS DOUBLE) - (CAST(s AS DOUBLE) / cnt)
                * (CAST(s AS DOUBLE) / cnt) * cnt) / (cnt - 1) AS var
      FROM hc JOIN stats ON hc.event_type = stats.event_type
    )
    SELECT event_type, hr, n,
           floor(((n - mean) / sqrt(var)) * 10000.0 + 0.5) / 10000.0 AS zscore,
           (abs((n - mean) / sqrt(var)) > 3.0) AS is_anomaly
    FROM z
    """,
)
def events_rate_anomaly(spark, sf_dir):
    """E9 alerting analog: per-hour event-rate z-scores against each
    topic's own distribution (the HighConsumerLag / error-rate alert
    rules, prometheus-rules.yaml:12-37, as a batch surface).

    Variance is computed EXPLICITLY from integer sums
    ((ss - mean²·n) / (n-1)) with the identical float op order in
    both engines — the built-in stddev aggregates use engine-specific
    accumulation orders and would not hash-match. One partial-agg
    shuffle for the hourly counts, a tiny per-type stats aggregate
    broadcast back; z-scores round to 4dp to absorb sqrt/division ulp.
    """
    ev = load_table(spark, sf_dir, "events")
    hc = ev.groupBy(
        "event_type", F.expr("ts_us div 3600000000").alias("hr")
    ).agg(F.count("*").alias("n"))
    stats = hc.groupBy("event_type").agg(
        F.sum("n").alias("s"),
        F.sum(F.col("n") * F.col("n")).alias("ss"),
        F.count("*").alias("cnt"),
    )
    mean = F.col("s").cast("double") / F.col("cnt")
    var = (
        F.col("ss").cast("double") - mean * mean * F.col("cnt")
    ) / (F.col("cnt") - 1)
    z = (F.col("n") - F.col("mean")) / F.sqrt(F.col("var"))
    return (
        hc.join(F.broadcast(stats), "event_type")
        .withColumn("mean", mean)
        .withColumn("var", var)
        .select(
            "event_type",
            "hr",
            "n",
            (F.floor(z * 10000.0 + F.lit(0.5)) / 10000.0).alias("zscore"),
            (F.abs(z) > 3.0).alias("is_anomaly"),
        )
    )


@query(
    "cdc_compaction_stats",
    oracle=CDC_CTE
    + """
    , live AS (
      SELECT pk FROM (
        SELECT * FROM cdc_events
        QUALIFY row_number() OVER (PARTITION BY pk ORDER BY ts_us DESC, ord2 DESC) = 1
      ) WHERE op <> 'd'
    ),
    per_key AS (
      SELECT pk, count(*) AS n_events FROM cdc_events GROUP BY pk
    )
    SELECT pk % 16 AS bucket_id,
           CAST(sum(n_events) AS BIGINT) AS n_events,
           count(*) AS n_keys,
           CAST(count(CASE WHEN live.pk IS NOT NULL THEN 1 END) AS BIGINT)
             AS n_live_keys,
           floor((sum(n_events) / count(*)) * 10000.0 + 0.5) / 10000.0
             AS events_per_key
    FROM per_key LEFT JOIN live USING (pk)
    GROUP BY bucket_id
    """,
)
def cdc_compaction_stats(spark, sf_dir):
    """Log-compaction planning stats per state bucket: how many events
    the retained log holds per key (the compaction ratio that sizes
    the B6 materialization and the Kafka compacted-topic analog), and
    how many keys are still live vs tombstoned. One per-key partial
    aggregate + a co-partitioned join; integer-ratio densities."""
    ce = cdc.cdc_events(spark, sf_dir)
    live = cdc.latest_state(ce).select("pk").withColumn("is_live", F.lit(1))
    per_key = ce.groupBy("pk").agg(F.count("*").alias("n_events"))
    joined = per_key.join(live, "pk", "left")
    return joined.groupBy((F.col("pk") % 16).alias("bucket_id")).agg(
        F.sum("n_events").cast("long").alias("n_events"),
        F.count("*").alias("n_keys"),
        F.count("is_live").cast("long").alias("n_live_keys"),
        (
            F.floor((F.sum("n_events") / F.count("*")) * 10000.0 + F.lit(0.5))
            / 10000.0
        ).alias("events_per_key"),
    )


def _varint_len_sql(expr: str) -> str:
    """SQL for the byte length of the zigzag varint of a NON-NEGATIVE
    bigint expr (zigzag of n >= 0 is 2n; one byte per 7 bits)."""
    z = f"(2 * ({expr}))"
    cases = " ".join(f"WHEN {z} < {128 ** k} THEN {k}" for k in range(1, 10))
    return f"(CASE {cases} ELSE 10 END)"


@query(
    "avro_roundtrip",
    # The oracle recomputes the EXACT wire size from the public Avro
    # binary spec (5-byte Confluent frame + zigzag-varint longs +
    # varint-length string + 8-byte double) — so a framing or varint
    # bug breaks the hash even though the decoded values also roundtrip.
    oracle=f"""
    SELECT event_id, user_id, event_type, value,
           CAST(5 + {_varint_len_sql("event_id")} + {_varint_len_sql("user_id")}
                + {_varint_len_sql("length(event_type)")} + length(event_type)
                + 8 AS BIGINT) AS n_bytes,
           CAST(1 AS INTEGER) AS schema_id
    FROM events
    """,
)
def avro_roundtrip(spark, sf_dir):
    """A12 sibling: Avro wire format with Schema-Registry framing —
    encode rows to framed Avro binary, decode them back, and report
    the real encoded byte size (sources/avro_wire.py implements the
    public Avro binary encoding; the reference deploys the registry at
    helm-charts/cdc-system/values.yaml:63-69)."""
    from .sources.avro_wire import (
        InMemorySchemaRegistry,
        from_avro_wire,
        from_avro_wire_jvm,
        jvm_avro_available,
        to_avro_wire,
        to_avro_wire_jvm,
    )

    fields = [
        ("event_id", "long"),
        ("user_id", "long"),
        ("event_type", "string"),
        ("value", "double"),
    ]
    reg = InMemorySchemaRegistry()
    sid = reg.register("events-value", fields)
    ev = load_table(spark, sf_dir, "events")
    if jvm_avro_available(spark, fields):
        # spark-avro jar present: zero-Python whole-stage codec (the
        # byte-level parity with the Python lane is pinned by the
        # jar-gated test in tests/test_wire.py)
        wire = to_avro_wire_jvm(ev, fields, sid).withColumn(
            "n_bytes", F.length("value").cast("long")
        )
        return from_avro_wire_jvm(wire, fields, keep_cols=("n_bytes",))
    wire = to_avro_wire(ev, fields, sid).withColumn(
        "n_bytes", F.length("value").cast("long")
    )
    return from_avro_wire(
        wire,
        reg,
        "event_id long, user_id long, event_type string, value double, n_bytes long",
        keep_cols=("n_bytes",),
    )


@query(
    "cdc_outbox_router",
    oracle="""
    SELECT event_id,
           'outbox.event.' || event_type AS topic,
           CAST(user_id AS VARCHAR) AS part_key,
           event_type AS evt_type,
           props AS payload
    FROM events
    """,
)
def cdc_outbox_router(spark, sf_dir):
    """B-extension: outbox EventRouter SMT analog — the transactional-
    outbox pattern Debezium ships as io.debezium.transforms.outbox.
    EventRouter (public Debezium docs; the reference's connector
    config, k8s-manifests/connectors/postgresql-connector.yaml:50-56,
    wires the SMT chain this router plugs into). The outbox row's
    aggregate type picks the destination topic
    (route.topic.replacement = outbox.event.${routedByValue}), the
    aggregate id becomes the Kafka partition key (so one aggregate's
    events stay ordered), and the payload column is forwarded verbatim
    as the message value.

    Fixture mapping: event_type -> aggregatetype, user_id ->
    aggregateid, props -> payload. Shape: narrow per-row projection —
    zero exchanges; at 100 TB the router rides the source scan's
    partitioning untouched.
    """
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.concat(F.lit("outbox.event."), F.col("event_type")).alias("topic"),
        F.col("user_id").cast("string").alias("part_key"),
        F.col("event_type").alias("evt_type"),
        F.col("props").alias("payload"),
    )


@query(
    "cdc_mask_columns",
    oracle="""
    SELECT event_id,
           repeat('*', 8) AS props_masked,
           left(event_type, 3) AS type_trunc,
           sha256('salt-v1' || CAST(user_id AS VARCHAR)) AS user_hash
    FROM events
    """,
)
def cdc_mask_columns(spark, sf_dir):
    """B-extension: column masking/truncation — Debezium's
    column.mask.with.length.chars, column.truncate.to.length.chars and
    column.mask.hash.v2 connector properties (public Debezium docs;
    the PII-redaction knobs a production deployment of the reference's
    postgresql connector would set alongside its SMT chain). Mask
    replaces the value with a fixed-length '*' run (length leaks
    nothing), truncate keeps a bounded prefix, and the keyed hash is a
    salted SHA-256 so the column stays joinable without exposing the
    raw key.

    Shape: narrow per-row projection, zero exchanges; sha2 runs
    JVM-side inside whole-stage codegen (no Python anywhere).
    """
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.lit("********").alias("props_masked"),
        F.substring("event_type", 1, 3).alias("type_trunc"),
        F.sha2(
            F.concat(F.lit("salt-v1"), F.col("user_id").cast("string")), 256
        ).alias("user_hash"),
    )


# Incremental-snapshot chunking constants (DBLog analog): contiguous
# pk ranges of CHUNK_SZ keys; chunk k's snapshot read happens STEP_US
# after the previous one, starting at the initial-snapshot cut. Sized
# so the fixture's pk range spans many chunks at every SF and the last
# chunk still reads inside the log's time range.
INCR_CHUNK_SZ = 10
INCR_STEP_US = 7_200_000_000  # 2 h between chunk reads


@query(
    "cdc_incremental_snapshot",
    oracle=CDC_CTE
    + f"""
    , aug AS (
      SELECT *,
             CAST(pk // {INCR_CHUNK_SZ} AS BIGINT) AS chunk_id,
             CAST({cdc.SNAPSHOT_CUT_US} + (pk // {INCR_CHUNK_SZ})
                  * {INCR_STEP_US} AS BIGINT) AS read_ts_us
      FROM cdc_events
    ),
    snap AS (
      SELECT pk, chunk_id, read_ts_us, ts_us AS snap_ts_us, val AS snap_val
      FROM (
        SELECT * FROM aug WHERE ts_us <= read_ts_us
        QUALIFY row_number() OVER (PARTITION BY pk
                                   ORDER BY ts_us DESC, ord2 DESC) = 1
      )
      WHERE op <> 'd'
    ),
    tail AS (
      SELECT pk, count(*) AS n_tail
      FROM aug WHERE ts_us > read_ts_us GROUP BY pk
    )
    SELECT s.pk, s.chunk_id, s.read_ts_us, s.snap_ts_us, s.snap_val,
           COALESCE(t.n_tail, 0) AS n_tail_events
    FROM snap s LEFT JOIN tail t ON s.pk = t.pk
    """,
)
def cdc_incremental_snapshot(spark, sf_dir):
    """A4 sibling: incremental (ad-hoc) snapshot — Debezium's
    signal-driven DBLog algorithm (public Debezium docs: incremental
    snapshots chunk the table by primary key and interleave each
    chunk's read with the live stream, deduplicating against events
    inside the chunk's watermark window). Batch analog: chunk k of
    CHUNK_SZ contiguous pks snapshots at read_ts(k) = cut + k·STEP;
    a key's snapshot row is its latest non-deleted state as of ITS
    chunk's read instant, and every later change rides the stream
    (counted here as n_tail_events — the rows the watermark dedup
    hands back to the streaming side).

    Shape at 100 TB: read_ts is a narrow pk-derived column (no join
    against a chunk table), then ONE pk-window for latest-as-of, one
    pk-aggregate for the tail count, and a co-partitioned pk join —
    the same single-key shuffle family as cdc_latest_state; chunking
    never materializes per-chunk frames or loops on the driver.
    """
    from pyspark.sql import Window

    ce = cdc.cdc_events(spark, sf_dir)
    aug = ce.withColumn(
        "chunk_id", F.expr(f"pk div {INCR_CHUNK_SZ}")
    ).withColumn(
        "read_ts_us",
        (F.lit(cdc.SNAPSHOT_CUT_US) + F.col("chunk_id") * F.lit(INCR_STEP_US)).cast(
            "long"
        ),
    )
    w = Window.partitionBy("pk").orderBy(F.desc("ts_us"), F.desc("ord2"))
    snap = (
        aug.filter(F.col("ts_us") <= F.col("read_ts_us"))
        .withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("op") != "d"))
        .select(
            "pk",
            "chunk_id",
            "read_ts_us",
            F.col("ts_us").alias("snap_ts_us"),
            F.col("val").alias("snap_val"),
        )
    )
    tail = (
        aug.filter(F.col("ts_us") > F.col("read_ts_us"))
        .groupBy("pk")
        .agg(F.count("*").alias("n_tail"))
    )
    return snap.join(tail, "pk", "left").select(
        "pk",
        "chunk_id",
        "read_ts_us",
        "snap_ts_us",
        "snap_val",
        F.coalesce(F.col("n_tail"), F.lit(0)).cast("long").alias("n_tail_events"),
    )


@query(
    "cdc_transaction_metadata",
    oracle="""
    SELECT CAST(event_id // 10 AS BIGINT) AS tx_id,
           count(*) AS n_events,
           min(event_id) AS first_ord2,
           max(event_id) AS last_ord2,
           min(epoch_us(ts)) AS begin_ts_us,
           max(epoch_us(ts)) AS end_ts_us,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_keys,
           CAST(count(DISTINCT event_type) AS BIGINT) AS n_collections
    FROM events
    GROUP BY tx_id
    """,
)
def cdc_transaction_metadata(spark, sf_dir):
    """Transaction-boundary metadata — Debezium's
    provide.transaction.metadata=true emits BEGIN/END events carrying
    per-transaction event counts and per-collection data counts
    (public Debezium docs). Batch analog: the log's contiguous
    10-event windows are the source transactions (event_id IS the log
    sequence); each output row is the END event's metadata — event
    count, ordinal and timestamp bounds, distinct keys and distinct
    collections touched.

    Shape: ONE hash aggregate on the derived tx_id (narrow column off
    the scan); distinct counts are per-group exact via Spark's
    two-phase distinct-aggregate expansion — no self-join, no window.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.withColumn("tx_id", F.expr("event_id div 10"))
        .groupBy("tx_id")
        .agg(
            F.count("*").alias("n_events"),
            F.min("event_id").alias("first_ord2"),
            F.max("event_id").alias("last_ord2"),
            F.min("ts_us").alias("begin_ts_us"),
            F.max("ts_us").alias("end_ts_us"),
            F.countDistinct("user_id").alias("n_keys"),
            F.countDistinct("event_type").alias("n_collections"),
        )
    )


@query(
    "cdc_order_audit",
    oracle=CDC_CTE
    + """
    , seq AS (
      SELECT pk, ts_us,
             lag(ts_us) OVER (PARTITION BY pk ORDER BY ord2) AS prev_ts
      FROM cdc_events
    )
    SELECT pk, count(*) AS n_events,
           CAST(sum(CASE WHEN prev_ts IS NOT NULL AND ts_us < prev_ts
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_inversions,
           CAST(COALESCE(max(CASE WHEN prev_ts IS NOT NULL AND ts_us < prev_ts
                                  THEN prev_ts - ts_us END), 0) AS BIGINT)
             AS max_regression_us
    FROM seq GROUP BY pk
    """,
)
def cdc_order_audit(spark, sf_dir):
    """Log-order vs event-time audit: per key, how often the wall
    clock runs BACKWARD along the log sequence (producer clock skew /
    out-of-order capture) and by how much — the operational check
    behind every event-time watermark decision: max_regression_us is
    exactly the watermark delay that would have been needed.

    Shape: one pk-window (lag) and one pk-aggregate in the SAME
    partitioning — the exchange is reused (single pk shuffle), the
    cdc_latest_state family's shape.
    """
    from pyspark.sql import Window

    ce = cdc.cdc_events(spark, sf_dir)
    w = Window.partitionBy("pk").orderBy("ord2")
    inv = F.col("prev_ts").isNotNull() & (F.col("ts_us") < F.col("prev_ts"))
    return (
        ce.withColumn("prev_ts", F.lag("ts_us").over(w))
        .groupBy("pk")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.when(inv, 1).otherwise(0)).cast("long").alias("n_inversions"),
            F.coalesce(
                F.max(F.when(inv, F.col("prev_ts") - F.col("ts_us"))), F.lit(0)
            )
            .cast("long")
            .alias("max_regression_us"),
        )
    )


@query(
    "cdc_dlq_split",
    oracle="""
    SELECT event_id, user_id,
           CASE WHEN props IS NULL OR (props->>'k') IS NULL
                THEN 'missing_key'
                WHEN CAST(props->>'k' AS INT) > 75 THEN 'out_of_range'
                ELSE 'ok' END AS verdict,
           (CASE WHEN props IS NULL OR (props->>'k') IS NULL
                 THEN 'missing_key'
                 WHEN CAST(props->>'k' AS INT) > 75 THEN 'out_of_range'
                 ELSE 'ok' END) <> 'ok' AS to_dlq
    FROM events
    """,
)
def cdc_dlq_split(spark, sf_dir):
    """A-extension: dead-letter routing — Kafka Connect's
    errors.tolerance=all + errors.deadletterqueue.topic.name (public
    Connect semantics): records failing validation are diverted to a
    DLQ topic WITH a reason header instead of killing the pipeline.
    Validation here: the payload must carry key 'k' and k <= 75
    (only the upper bound is checked; the fixture generator never
    emits negative k, so a lower bound would be dead code in both
    engines);
    violators get a verdict and the to_dlq flag (in production the
    flag keys a partitioned write / per-record topic via
    to_kafka_wire's Column topic).

    Shape: narrow codegen pass — the split is a projection, both
    branches share one scan, zero exchanges.
    """
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    verdict = (
        F.when(F.col("props").isNull() | k.isNull(), F.lit("missing_key"))
        .when(k > 75, F.lit("out_of_range"))
        .otherwise(F.lit("ok"))
    )
    return ev.select(
        "event_id",
        "user_id",
        verdict.alias("verdict"),
        (verdict != "ok").alias("to_dlq"),
    )


@query(
    "cdc_mysql_envelope",
    oracle="""
    WITH m AS (
      SELECT event_type AS tbl, user_id,
             CASE event_type WHEN 'signup' THEN 'c'
                             WHEN 'error'  THEN 'd' ELSE 'u' END AS op,
             (event_id // 2500) * 4294967296
               + (event_id % 2500) * 16 + 4 AS ordinal
      FROM events)
    SELECT tbl AS table_name,
           count(*) AS n_events,
           CAST(sum(CASE WHEN op = 'd' THEN 1 ELSE 0 END) AS BIGINT) AS n_deletes,
           max(ordinal) AS max_ordinal,
           CAST(COALESCE(sum(CASE WHEN op <> 'd' THEN user_id END), 0) AS BIGINT)
             AS sum_live_ids,
           count(DISTINCT user_id) AS n_keys
    FROM m GROUP BY tbl
    """,
)
def cdc_mysql_envelope(spark, sf_dir):
    """A2: MySQL-connector lane end-to-end — events re-serialized as
    verbatim MySQL wire envelopes (binlog file/pos/row/server_id in the
    `source` block, dotted server.db.table topic), parsed back through
    the typed MYSQL_SOURCE_SCHEMA, RegexRouter-routed, unwrapped with
    the delete rewrite, and ordered by the derived binlog ordinal
    (file index * 2^32 + pos — MySQL's lsn analog). The oracle computes
    the same per-table report relationally, so a hash match proves the
    whole encode→parse→route→unwrap→order chain is lossless.
    Conformance vs the public docs payloads: tests/test_wire.py.
    Reference configures this connector at
    k8s-manifests/connectors/postgresql-connector.yaml:88-101.

    Shape: the wire roundtrip is one narrow codegen projection (encode
    + from_json + route per row, zero exchanges); the report is one
    hash aggregate on the routed table. At 100 TB the JSON codec cost
    is the scan stage; nothing shuffles but the k-row-per-table report.
    """
    from .sources.debezium import (
        MYSQL_SOURCE_SCHEMA,
        mysql_binlog_ordinal,
        parse_envelope,
        unwrap,
    )
    from pyspark.sql.types import LongType, StructField, StructType

    ev = load_table(spark, sf_dir, "events")
    op = (
        F.when(F.col("event_type") == "signup", "c")
        .when(F.col("event_type") == "error", "d")
        .otherwise("u")
    )
    row = F.struct(F.col("user_id").alias("id"))
    wire = ev.select(
        F.concat(F.lit("mysql-server-1.inventory."), "event_type").alias("topic"),
        F.to_json(
            F.struct(
                F.when(op == "d", row).alias("before"),
                F.when(op != "d", row).alias("after"),
                F.struct(
                    F.lit("inventory").alias("db"),
                    F.col("event_type").alias("table"),
                    F.lit(223344).cast("long").alias("server_id"),
                    F.concat(
                        F.lit("mysql-bin."),
                        F.lpad((F.col("event_id") / 2500).cast("long").cast("string"), 6, "0"),
                    ).alias("file"),
                    ((F.col("event_id") % 2500) * 16 + 4).alias("pos"),
                    F.lit(0).cast("long").alias("row"),
                    (F.col("ts_us") / 1000).cast("long").alias("ts_ms"),
                    F.lit("false").alias("snapshot"),
                ).alias("source"),
                op.alias("op"),
                (F.col("ts_us") / 1000).cast("long").alias("ts_ms"),
            ),
            {"ignoreNullFields": "false"},
        ).alias("value"),
    )
    row_schema = StructType([StructField("id", LongType())])
    parsed = parse_envelope(wire, row_schema, source_schema=MYSQL_SOURCE_SCHEMA)
    flat = unwrap(
        parsed.withColumn("ordinal", mysql_binlog_ordinal()),
        extra_cols=["op", "table_name", "ordinal"],
    )
    return flat.groupBy(F.col("table_name")).agg(
        F.count("*").alias("n_events"),
        F.sum(F.when(F.col("__deleted"), 1).otherwise(0)).alias("n_deletes"),
        F.max("ordinal").alias("max_ordinal"),
        F.coalesce(
            F.sum(F.when(~F.col("__deleted"), F.col("id"))), F.lit(0).cast("long")
        ).alias("sum_live_ids"),
        F.countDistinct("id").alias("n_keys"),
    )


@query(
    "cdc_mongo_envelope",
    oracle="""
    WITH m AS (
      SELECT event_type AS coll, user_id,
             CAST(props->>'k' AS BIGINT) AS k,
             CASE event_type WHEN 'signup' THEN 'c'
                             WHEN 'error'  THEN 'd' ELSE 'u' END AS op,
             event_id % 1000 AS ord
      FROM events)
    SELECT coll AS collection, op,
           count(*) AS n,
           CAST(sum(user_id) AS BIGINT) AS sum_id,
           CAST(sum(k) AS BIGINT) AS sum_k,
           max(ord) AS max_ord
    FROM m GROUP BY coll, op
    """,
)
def cdc_mongo_envelope(spark, sf_dir):
    """A3: MongoDB-connector document lane end-to-end — events
    re-serialized as Mongo wire envelopes (the document as an
    extended-JSON STRING in `after` — `before` for deletes — with the
    oplog {rs, collection, ord} source block), parsed through
    MONGO_ENVELOPE_SCHEMA, and shredded back to typed columns by
    unwrap_mongo (ExtractNewDocumentState analog). Oracle computes the
    same per-collection/op report relationally — a hash match proves
    the double-encoded document roundtrip. Conformance vs the public
    docs payloads (incl. $numberLong and updateDescription):
    tests/test_wire.py. Reference declares the connector at
    values.yaml:60-61.

    Shape: narrow codegen wire roundtrip (nested to_json/from_json +
    get_json_object shred), one hash aggregate. The document shred is
    JSON-path extraction in whole-stage codegen — no Python.
    """
    from .sources.debezium import parse_mongo_envelope, unwrap_mongo

    ev = load_table(spark, sf_dir, "events")
    op = (
        F.when(F.col("event_type") == "signup", "c")
        .when(F.col("event_type") == "error", "d")
        .otherwise("u")
    )
    doc = F.to_json(
        F.struct(
            F.col("user_id").alias("_id"),
            F.get_json_object("props", "$.k").cast("long").alias("k"),
        )
    )
    wire = ev.select(
        F.concat(F.lit("fulfillment.analytics."), "event_type").alias("topic"),
        F.to_json(
            F.struct(
                F.when(op == "d", doc).alias("before"),
                F.when(op != "d", doc).alias("after"),
                F.struct(
                    F.lit("analytics").alias("db"),
                    F.lit("rs0").alias("rs"),
                    F.col("event_type").alias("collection"),
                    (F.col("event_id") % 1000).alias("ord"),
                    (F.col("ts_us") / 1000).cast("long").alias("ts_ms"),
                ).alias("source"),
                op.alias("op"),
                (F.col("ts_us") / 1000).cast("long").alias("ts_ms"),
            ),
            {"ignoreNullFields": "false"},
        ).alias("value"),
    )
    parsed = parse_mongo_envelope(wire)
    flat = unwrap_mongo(parsed, {"_id": "long", "k": "long"})
    return flat.groupBy(
        F.col("table_name").alias("collection"), "op"
    ).agg(
        F.count("*").alias("n"),
        F.sum("_id").alias("sum_id"),
        F.sum("k").alias("sum_k"),
        F.max("ord").alias("max_ord"),
    )


@query(
    "cdc_referential_audit",
    oracle=CDC_CTE
    + f"""
    , alive AS (
      SELECT pk FROM (
        SELECT * FROM cdc_events WHERE ts_us <= {cdc.AS_OF_2024_01_15_US}
        QUALIFY row_number() OVER (PARTITION BY pk ORDER BY ts_us DESC, ord2 DESC) = 1
      ) WHERE op <> 'd'
    )
    SELECT e.event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN a.pk IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_orphans
    FROM events e
    LEFT JOIN alive a ON e.user_id = a.pk
    WHERE epoch_us(e.ts) <= {cdc.AS_OF_2024_01_15_US}
      AND e.event_type IN ('click', 'view', 'purchase')
    GROUP BY e.event_type
    """,
)
def cdc_referential_audit(spark, sf_dir):
    """Cross-stream referential consistency at a snapshot instant —
    the multi-table problem every CDC deployment has (the reference
    captures 4 FK-linked tables, postgresql-connector.yaml:39): apply
    the parent stream's latest-state as of T, then count child events
    up to T whose parent key is not alive (deleted or never created
    at T). Nonzero orphan counts quantify apply-order skew between
    per-table consumers. One pk-window for the parent state plus a
    left join of the child scan against the (aggregated, broadcastable)
    alive-key set."""
    ev = load_table(spark, sf_dir, "events")
    ce = cdc.cdc_events(spark, sf_dir)
    alive = (
        cdc.as_of_snapshot(ce, cdc.AS_OF_2024_01_15_US)
        .select("pk")
        .withColumn("_alive", F.lit(True))
    )
    child = ev.where(
        (F.col("ts_us") <= cdc.AS_OF_2024_01_15_US)
        & F.col("event_type").isin("click", "view", "purchase")
    )
    return (
        child.join(alive, child.user_id == alive.pk, "left")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(
                F.when(F.col("_alive").isNull(), 1).otherwise(0)
            ).alias("n_orphans"),
        )
    )


# --- Schema-Registry protocol, executed --------------------------------------

_REGISTRY_SERVERS: dict = {}


def _registry_server(lane: str):
    """Process-lifetime in-process registry, one per lane: the lane
    returns a lazy frame whose executors fetch schemas by id over HTTP
    after the lane function returns, so the server must outlive the
    call. One server per lane keeps the oracle's content-addressed ids
    (first schema = 1) independent of other lanes' registrations; in
    production the URL points at the deployed registry
    (values.yaml:63-69)."""
    if lane not in _REGISTRY_SERVERS:
        from .sources.schema_registry import SchemaRegistryServer

        _REGISTRY_SERVERS[lane] = SchemaRegistryServer()
    return _REGISTRY_SERVERS[lane]


@query(
    "avro_registry_roundtrip",
    # Same exact wire-size oracle as avro_roundtrip: the registry moves
    # schema TEXT, not bytes — the frame layout must be unchanged. The
    # registry stub is content-addressed, so the first-registered
    # schema id is deterministically 1.
    oracle=f"""
    SELECT event_id, user_id, event_type, value,
           CAST(5 + {_varint_len_sql("event_id")} + {_varint_len_sql("user_id")}
                + {_varint_len_sql("length(event_type)")} + length(event_type)
                + 8 AS BIGINT) AS n_bytes,
           CAST(1 AS INTEGER) AS schema_id
    FROM events
    """,
)
def avro_registry_roundtrip(spark, sf_dir):
    """The full registry PROTOCOL executed end-to-end: register the schema
    over HTTP (POST /subjects/../versions), encode with the returned id,
    then decode with a FRESH client that must fetch the schema back BY
    ID (GET /schemas/ids/{id}) — the produce/consume seam a
    schemas.enable=true deployment runs. The decode client pickles as
    its URL and re-opens executor-side with an empty cache, so the
    schema text really travels over the wire once per executor (then the
    immutable-id cache holds)."""
    from .sources.avro_wire import from_avro_wire, to_avro_wire
    from .sources.schema_registry import SchemaRegistryClient

    fields = [
        ("event_id", "long"),
        ("user_id", "long"),
        ("event_type", "string"),
        ("value", "double"),
    ]
    url = _registry_server("avro_registry_roundtrip").url
    sid = SchemaRegistryClient(url).register("events-value", fields)
    ev = load_table(spark, sf_dir, "events")
    wire = to_avro_wire(ev, fields, sid).withColumn(
        "n_bytes", F.length("value").cast("long")
    )
    consumer = SchemaRegistryClient(url)  # empty cache: decode must fetch
    return from_avro_wire(
        wire,
        consumer,
        "event_id long, user_id long, event_type string, value double, n_bytes long",
        keep_cols=("n_bytes",),
    )


@query(
    "avro_schema_evolution_roundtrip",
    # Mixed-id topic decoded to ONE frame: v1 writers (even event_id)
    # predate the ALTER, so their `region` is null; v2 writers carry
    # it. The per-lane registry stub is content-addressed, so the two
    # registration ids are structurally 1 and 2.
    oracle="""
    SELECT event_id, user_id, event_type, value,
           CASE WHEN event_id % 2 = 1
                THEN 'r' || CAST(user_id % 5 AS VARCHAR) END AS region,
           CAST(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 2 END AS INTEGER)
             AS schema_id
    FROM events
    """,
)
def avro_schema_evolution_roundtrip(spark, sf_dir):
    """Schema evolution THROUGH framed Avro ids — the production wire path
    the reference's registry deployment implies
    (helm-charts/cdc-system/values.yaml:63-69 next to
    include.schema.changes, postgresql-connector.yaml:44-46).
    avro_registry_roundtrip proves the registry protocol and
    cdc_schema_evolution_roundtrip proves JSON-lane DDL folding; this
    lane composes them end-to-end:

      register v1 -> encode a first epoch with id1 -> the upstream
      table is ALTERed (the DDL string folds into the consumer schema
      via apply_ddl, the same path the schema-change topic drives) ->
      the producer gates v2 through the registry's BACKWARD
      compatibility check (POST /compatibility/..) -> register v2 ->
      encode a second epoch with id2 -> one mixed-id stream is decoded
      by a FRESH consumer that fetches each schema BY ID executor-side.

    v1 rows surface region=null (Avro union-null resolution), v2 rows
    carry it — the registry's evolution contract on real framed bytes,
    not a schema-catalog simulation. Plan shape: two codegen-narrow
    encode legs, one union, one Arrow-batched decode; zero exchanges."""
    from pyspark.sql.types import StructType

    from .sources.avro_wire import to_avro_wire, from_avro_wire
    from .sources.debezium import apply_ddl
    from .sources.schema_registry import SchemaRegistryClient

    fields_v1 = [
        ("event_id", "long"),
        ("user_id", "long"),
        ("event_type", "string"),
        ("value", "double"),
    ]
    url = _registry_server("avro_schema_evolution_roundtrip").url
    producer = SchemaRegistryClient(url)
    sid_v1 = producer.register("events-value", fields_v1)

    # The upstream DDL lands. Fold it into the consumer's schema
    # catalog exactly as the schema-change-topic consumer does, then
    # derive the v2 Avro spec: columns the ALTER added are optional
    # (union [null, T]) — that nullability is what makes the evolution
    # BACKWARD-compatible and old records decodable.
    ddl = "ALTER TABLE public.events ADD COLUMN region varchar(8)"
    v1_struct = StructType.fromDDL(
        "event_id long, user_id long, event_type string, value double"
    )
    v2_struct = apply_ddl(v1_struct, ddl)
    _AVRO_OF = {"LongType()": "long", "StringType()": "string",
                "DoubleType()": "double"}
    known = {n for n, _ in fields_v1}
    fields_v2 = fields_v1 + [
        (f.name, ["null", _AVRO_OF[repr(f.dataType)]])
        for f in v2_struct.fields
        if f.name not in known
    ]
    # production producer-upgrade gate: the registry must bless v2
    # against the latest registered version before anything encodes
    # with it
    if not producer.is_compatible("events-value", fields_v2):
        raise ValueError("v2 schema failed the registry compatibility gate")
    sid_v2 = producer.register("events-value", fields_v2)

    ev = load_table(spark, sf_dir, "events")
    epoch1 = ev.filter(F.col("event_id") % 2 == 0)
    epoch2 = ev.filter(F.col("event_id") % 2 == 1).withColumn(
        "region", F.concat(F.lit("r"), (F.col("user_id") % 5).cast("string"))
    )
    wire = to_avro_wire(epoch1, fields_v1, sid_v1).unionByName(
        to_avro_wire(epoch2, fields_v2, sid_v2)
    )
    consumer = SchemaRegistryClient(url)  # empty cache: per-id fetch
    return from_avro_wire(
        wire,
        consumer,
        "event_id long, user_id long, event_type string, value double, "
        "region string",
    )


@query(
    "cdc_connect_config_pipeline",
    # the oracle mirrors the COMPILED chain relationally: corrupt rows
    # quarantine (checked first), null values tombstone, the include
    # filter keeps 4 of 5 tables (tombstones pass — null source),
    # unwrap rewrites deletes to the before image, MaskField nulls
    # `name` (n_names_nonnull must be 0 for every change row)
    oracle="""
    WITH base AS (
      SELECT event_id, user_id, event_type,
             CASE event_type WHEN 'signup' THEN 'c'
                             WHEN 'error'  THEN 'd' ELSE 'u' END AS op,
             (event_id % 997 = 0) AS corrupt,
             (event_id % 997 <> 0 AND event_id % 991 = 0) AS tomb
      FROM events
    ),
    ch AS (
      SELECT 'change:' || op AS lane,
             count(*) AS n_rows,
             CAST(sum(user_id) AS BIGINT) AS sum_ids,
             CAST(0 AS BIGINT) AS n_names_nonnull
      FROM base
      WHERE NOT corrupt AND NOT tomb
        AND event_type IN ('signup', 'click', 'purchase', 'error')
      GROUP BY op
    )
    SELECT lane, n_rows, sum_ids, n_names_nonnull FROM ch
    UNION ALL
    SELECT 'tombstones', count(*), CAST(0 AS BIGINT), CAST(0 AS BIGINT)
    FROM base WHERE tomb
    UNION ALL
    SELECT 'quarantine', count(*), CAST(0 AS BIGINT), CAST(0 AS BIGINT)
    FROM base WHERE corrupt
    """,
)
def cdc_connect_config_pipeline(spark, sf_dir):
    """The CONFIG COMPILER end-to-end behind the correctness gate: the
    reference's own connector properties (RegexRouter +
    ExtractNewRecordState rewrite + MaskField + table.include.list,
    postgresql-connector.yaml:38-56) compiled by ConnectorPipeline and
    applied to a re-serialized wire stream that contains clean
    envelopes, malformed payloads (event_id % 997 — must land in the
    unconditional quarantine lane, never as all-null change rows), and
    tombstones (event_id % 991 — kept, null source passes capture-side
    include). The report proves each lane's membership, the delete
    rewrite, and that the masked column is null on every change row.
    Shape: one codegen wire roundtrip + three keyed aggregates; zero
    exchanges before the rollups."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from .sources.config import ConnectorPipeline

    cfg = {
        "connector.class": "io.debezium.connector.postgresql.PostgresConnector",
        "table.include.list": (
            "public.signup,public.click,public.purchase,public.error"
        ),
        "include.schema.changes": "false",
        "transforms": "route,unwrap,mask",
        "transforms.route.type": "org.apache.kafka.connect.transforms.RegexRouter",
        "transforms.route.regex": r"([^.]+)\.([^.]+)\.([^.]+)",
        "transforms.route.replacement": "$3",
        "transforms.unwrap.type": "io.debezium.transforms.ExtractNewRecordState",
        "transforms.unwrap.drop.tombstones": "false",
        "transforms.unwrap.delete.handling.mode": "rewrite",
        "transforms.mask.type": "org.apache.kafka.connect.transforms.MaskField$Value",
        "transforms.mask.fields": "name",
    }
    row_schema = StructType(
        [StructField("id", LongType()), StructField("name", StringType())]
    )

    ev = load_table(spark, sf_dir, "events")
    op = (
        F.when(F.col("event_type") == "signup", "c")
        .when(F.col("event_type") == "error", "d")
        .otherwise("u")
    )
    row = F.struct(
        F.col("user_id").alias("id"), F.col("event_type").alias("name")
    )
    envelope = F.to_json(
        F.struct(
            F.when(op == "d", row).alias("before"),
            F.when(op != "d", row).alias("after"),
            F.struct(
                F.lit("public").alias("schema"),
                F.col("event_type").alias("table"),
                F.col("event_id").alias("lsn"),
                (F.col("ts_us") / 1000).cast("long").alias("ts_ms"),
                F.lit("false").alias("snapshot"),
            ).alias("source"),
            op.alias("op"),
            (F.col("ts_us") / 1000).cast("long").alias("ts_ms"),
        ),
        {"ignoreNullFields": "false"},
    )
    value = (
        F.when(F.col("event_id") % 997 == 0, F.lit("{not json"))
        .when(F.col("event_id") % 991 == 0, F.lit(None).cast("string"))
        .otherwise(envelope)
    )
    wire = ev.select(
        F.concat(F.lit("prod.public."), "event_type").alias("topic"),
        value.alias("value"),
    )
    lanes = ConnectorPipeline.build(cfg, row_schema).apply(wire)
    ch = lanes["changes"].groupBy(
        F.concat(F.lit("change:"), F.col("op")).alias("lane")
    ).agg(
        F.count("*").alias("n_rows"),
        F.coalesce(F.sum("id"), F.lit(0)).cast("long").alias("sum_ids"),
        F.sum(F.when(F.col("name").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_names_nonnull"),
    )

    def scalar_lane(df, label):
        return df.agg(F.count("*").alias("n_rows")).select(
            F.lit(label).alias("lane"),
            "n_rows",
            F.lit(0).cast("long").alias("sum_ids"),
            F.lit(0).cast("long").alias("n_names_nonnull"),
        )

    return ch.unionByName(scalar_lane(lanes["tombstones"], "tombstones")).unionByName(
        scalar_lane(lanes["quarantine"], "quarantine")
    )


# --- Elasticsearch bulk protocol, executed -----------------------------------


@query(
    "cdc_es_bulk_roundtrip",
    oracle=CDC_CTE
    + """
    SELECT pk, ts_us AS version_us, val AS last_val
    FROM (
      SELECT * FROM cdc_events
      QUALIFY row_number() OVER (PARTITION BY pk ORDER BY ts_us DESC, ord2 DESC) = 1
    )
    WHERE op <> 'd'
    """,
)
def cdc_es_bulk_roundtrip(spark, sf_dir):
    """The Elasticsearch SINK PROTOCOL executed end-to-end behind the
    correctness gate: the CDC stream is bulk-POSTed from the EXECUTORS
    to a real HTTP server speaking the public Bulk API (NDJSON
    index/delete actions, one op per event), with each operation
    versioned by its event-order key under ``version_type:
    external_gte`` — the public ES recipe for CDC consumers. The input
    is deliberately round-robin repartitioned so wire delivery order
    bears no relation to log order; the landed index must STILL equal
    batch latest-state (deletes absent), because ordering rides in the
    operations and the store's optimistic concurrency rejects stale
    writes (409 items). Readback is one key-cardinality-bounded _search
    (driver gate only; production reads ES directly). Reference declares
    the sink at README.md:48,77 / values.yaml:85-90 with no consumer
    code; the version packing (ts_us*4096 + ord2 mod 4096) is documented
    strict for any per-key ts tie closer than 4096 ordinals."""
    from .sinks_es import EsBulkServer, EsBulkSink, search_all

    ce = cdc.cdc_events(spark, sf_dir)
    wire = ce.select(
        "pk",
        (F.col("ts_us") * 4096 + F.pmod(F.col("ord2"), F.lit(4096))).alias("ver"),
        "op",
        "ts_us",
        "val",
    ).repartition(8)  # scramble delivery order on purpose
    with EsBulkServer() as srv:
        EsBulkSink(
            srv.url, "cdc_state", key_col="pk", version_col="ver", op_col="op"
        )(wire)
        hits = search_all(srv.url, "cdc_state")
    rows = [
        (int(h["_id"]), int(h["_source"]["ts_us"]), float(h["_source"]["val"]))
        for h in hits
    ]
    schema = "pk long, version_us long, last_val double"
    if not rows:
        return spark.createDataFrame([], schema)
    return spark.createDataFrame(rows, schema)


# --- ClickHouse HTTP protocol, executed --------------------------------------


@query(
    "cdc_clickhouse_replacing_roundtrip",
    oracle=CDC_CTE
    + """
    SELECT pk, ts_us AS version_us, val AS last_val
    FROM (
      SELECT * FROM cdc_events
      QUALIFY row_number() OVER (PARTITION BY pk ORDER BY ts_us DESC, ord2 DESC) = 1
    )
    WHERE op <> 'd'
    """,
)
def cdc_clickhouse_replacing_roundtrip(spark, sf_dir):
    """The ClickHouse SINK PROTOCOL executed end-to-end behind the
    correctness gate: DDL over the public HTTP interface creates a
    ``ReplacingMergeTree(ver, is_deleted) ORDER BY pk`` table — the
    public CH recipe for CDC consumers — then the CDC stream lands as
    per-partition JSONEachRow insert POSTs from the EXECUTORS, each an
    immutable part, with delivery order deliberately scrambled and
    deletes as is_deleted=1 rows carrying their event-order version.
    ``SELECT * FINAL`` must equal batch latest-state: the collapse keeps
    the max-version row per key and drops soft-deleted winners, so
    ordering rides in the data, not the arrival sequence. Readback is
    key-cardinality bounded (driver gate only). Reference declares the
    sink at README.md:50 / values.yaml:91-94 with no consumer code."""
    from .sinks_clickhouse import (
        ClickHouseInsertSink,
        ClickHouseServer,
        ch_execute,
        ch_select_final,
    )

    ce = cdc.cdc_events(spark, sf_dir)
    wire = ce.select(
        "pk",
        (F.col("ts_us") * 4096 + F.pmod(F.col("ord2"), F.lit(4096))).alias("ver"),
        "op",
        "ts_us",
        "val",
    ).repartition(8)  # scramble delivery order on purpose
    with ClickHouseServer() as srv:
        ch_execute(
            srv.url,
            "CREATE TABLE cdc_state (pk Int64, ver Int64, ts_us Int64, "
            "val Float64, is_deleted UInt8) "
            "ENGINE = ReplacingMergeTree(ver, is_deleted) ORDER BY pk",
        )
        ClickHouseInsertSink(srv.url, "cdc_state", version_col="ver")(wire)
        final = ch_select_final(srv.url, "cdc_state")
    rows = [(int(r["pk"]), int(r["ts_us"]), float(r["val"])) for r in final]
    schema = "pk long, version_us long, last_val double"
    if not rows:
        return spark.createDataFrame([], schema)
    return spark.createDataFrame(rows, schema)


# --- Redis RESP protocol, executed -------------------------------------------


@query(
    "cdc_redis_latest_kv_roundtrip",
    oracle=CDC_CTE
    + """
    SELECT pk, ts_us AS version_us, val AS last_val
    FROM (
      SELECT * FROM cdc_events
      QUALIFY row_number() OVER (PARTITION BY pk ORDER BY ts_us DESC, ord2 DESC) = 1
    )
    WHERE op <> 'd'
    """,
)
def cdc_redis_latest_kv_roundtrip(spark, sf_dir):
    """The Redis SINK PROTOCOL executed end-to-end behind the correctness
    gate: the CDC log is applied as three ORDERED chunks (the
    per-partition delivery order a keyed topic guarantees — Redis has no
    server-side versioning, so order is the public contract here, unlike
    the ES/CH lanes where versions ride in the data), each chunk reduced
    to per-key newest (tombstones kept) and pipelined as RESP2 SET/DEL
    from the EXECUTORS over real TCP. Readback: KEYS + GET pipeline,
    key-cardinality bounded (driver gate only). Reference declares the
    sink at README.md:51 / values.yaml:95-99."""
    import json as _json

    from .sinks_redis import RedisLatestKvSink, RedisRespServer, RespClient

    ce = cdc.cdc_events(spark, sf_dir).select("pk", "ord2", "ts_us", "op", "val")
    hi = ce.agg(F.max("ord2")).first()[0] + 1
    cuts = [0, hi // 3, 2 * hi // 3, hi]
    with RedisRespServer() as srv:
        sink = RedisLatestKvSink(srv.host, srv.port)
        for i in range(3):  # log order, as a keyed topic delivers
            chunk = (F.col("ord2") >= cuts[i]) & (F.col("ord2") < cuts[i + 1])
            sink(ce.where(chunk))
        cli = RespClient(srv.host, srv.port)
        try:
            keys = cli.execute(b"KEYS", b"*")
            vals = cli.pipeline([[b"GET", k] for k in keys]) if keys else []
        finally:
            cli.close()
    rows = []
    for k, v in zip(keys, vals):
        d = _json.loads(v)
        rows.append((int(k.decode().split(":", 1)[1]), int(d["ts_us"]), float(d["val"])))
    schema = "pk long, version_us long, last_val double"
    if not rows:
        return spark.createDataFrame([], schema)
    return spark.createDataFrame(rows, schema)


# --- Generic HTTP webhook fan-out, executed ----------------------------------


@query(
    "cdc_webhook_fanout_roundtrip",
    oracle=CDC_CTE
    + """
    SELECT pk, ts_us AS version_us, val AS last_val
    FROM (
      SELECT * FROM cdc_events
      QUALIFY row_number() OVER (PARTITION BY pk ORDER BY ts_us DESC, ord2 DESC) = 1
    )
    WHERE op <> 'd'
    """,
)
def cdc_webhook_fanout_roundtrip(spark, sf_dir):
    """The generic HTTP webhook SINK PROTOCOL executed end-to-end behind
    the correctness gate: the CDC stream is POSTed from the EXECUTORS as
    HMAC-SHA256-signed NDJSON batches to a real HTTP consumer that (a)
    rejects tampered requests 401, (b) APPLIES then answers 503 on the
    first attempt of every request — the apply-then-crash-before-ack
    window — so every batch traverses the producer's retry path and is
    delivered twice, and (c) applies operations version-gated per key
    (apply iff ver >= current). Delivery order is deliberately scrambled
    (round-robin repartition); the landed state must STILL equal batch
    latest-state because ordering and idempotence ride in the data — the
    same external_gte recipe as the ES sink, on the webhook wire.
    Readback is one key-cardinality-bounded GET (driver gate only); the
    lane raises unless every request was retried exactly once and none
    was rejected for its signature. Version packing ts_us*4096 + ord2
    mod 4096 as the other sink lanes (documented strict for per-key ts
    ties closer than 4096 ordinals)."""
    from .sinks_webhook import WebhookFanoutSink, WebhookServer, read_state

    ce = cdc.cdc_events(spark, sf_dir)
    wire = ce.select(
        "pk",
        (F.col("ts_us") * 4096 + F.pmod(F.col("ord2"), F.lit(4096))).alias("ver"),
        "op",
        "ts_us",
        "val",
    ).repartition(8)  # scramble delivery order on purpose
    with WebhookServer() as srv:
        WebhookFanoutSink(
            srv.url, secret=srv.secret, key_col="pk", version_col="ver", op_col="op"
        )(wire)
        state = read_state(srv.url)
        st = srv.stats()
    if st["requests"] != 2 * st["crashed_acks"] or st["rejected_auth"]:
        raise RuntimeError(f"webhook delivery broke apply-then-crash-retry: {st}")
    rows = [
        (int(r["key"]), int(r["data"]["ts_us"]), float(r["data"]["val"]))
        for r in state
    ]
    schema = "pk long, version_us long, last_val double"
    if not rows:
        return spark.createDataFrame([], schema)
    return spark.createDataFrame(rows, schema)


# ---------------------------------------------------------------------------
# §2.B SMT depth — the public Debezium transforms a reference
# user would configure next (all in-version for the reference's
# Debezium 2.4.0.Final, helm-charts/cdc-system/templates/kafka-connect/
# deployment.yaml:75-76)
# ---------------------------------------------------------------------------

@query(
    "cdc_logical_table_router",
    oracle="""
    WITH routed AS (
      SELECT 'prod.shard_' || CAST(event_id % 4 AS VARCHAR) || '.events'
               AS physical_topic,
             user_id,
             'prod.shard_' || CAST(event_id % 4 AS VARCHAR) || '.events'
               || ':' || CAST(user_id AS VARCHAR) AS aug_key
      FROM events
    )
    SELECT COALESCE(physical_topic, 'ALL') AS physical_topic,
           'events' AS logical_topic,
           count(*) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_raw_keys,
           CAST(count(DISTINCT aug_key) AS BIGINT) AS n_aug_keys
    FROM routed
    GROUP BY ROLLUP(physical_topic)
    """,
)
def cdc_logical_table_router(spark, sf_dir):
    """B-extension: ByLogicalTableRouter — Debezium's sharded-table
    merge SMT (io.debezium.transforms.ByLogicalTableRouter, public
    Debezium 2.4 docs: many physical shard topics route into one
    logical topic, and because primary keys collide across shards the
    SMT inserts a __dbz__physicalTableIdentifier field into the key
    to restore uniqueness). Batch analog over the fixture: shard =
    event_id % 4 names the physical topic; the audit compares the raw
    key space against the (physical, key) augmented space per shard
    and on the merged 'ALL' row — the difference on 'ALL' is exactly
    the collision count the key augmentation resolves.

    Shape: one ROLLUP aggregate (shard rows + grand total share one
    exchange); distinct counts expand map-side. At 100 TB the router
    itself is a narrow projection riding the scan; only this audit
    aggregates.
    """
    ev = load_table(spark, sf_dir, "events")
    phys = F.concat(
        F.lit("prod.shard_"),
        F.pmod(F.col("event_id"), F.lit(4)).cast("string"),
        F.lit(".events"),
    )
    routed = ev.select(
        phys.alias("physical_topic"),
        "user_id",
        F.concat(phys, F.lit(":"), F.col("user_id").cast("string")).alias(
            "aug_key"
        ),
    )
    return (
        routed.rollup("physical_topic")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_raw_keys"),
            F.countDistinct("aug_key").alias("n_aug_keys"),
        )
        .select(
            F.coalesce("physical_topic", F.lit("ALL")).alias("physical_topic"),
            F.lit("events").alias("logical_topic"),
            "n_events",
            "n_raw_keys",
            "n_aug_keys",
        )
    )


@query(
    "cdc_content_based_router",
    oracle=CDC_CTE
    + """
    , r AS (
      SELECT CASE WHEN op = 'd' THEN 'dlt.tombstones'
                  WHEN val >= 100.0 THEN 'events.high_value'
                  WHEN props->>'k' IS NULL THEN 'events.quarantine'
                  ELSE 'events.default' END AS topic,
             pk, val
      FROM cdc_events
    )
    SELECT topic, count(*) AS n_events,
           CAST(count(DISTINCT pk) AS BIGINT) AS n_keys,
           floor(min(val) * 10000.0 + 0.5) / 10000.0 AS min_val,
           floor(max(val) * 10000.0 + 0.5) / 10000.0 AS max_val
    FROM r GROUP BY topic
    """,
)
def cdc_content_based_router(spark, sf_dir):
    """B-extension: ContentBasedRouter — Debezium's scripting SMT
    (io.debezium.transforms.ContentBasedRouter, public Debezium 2.4
    docs: a per-record expression over the envelope picks the
    destination topic). Rule chain here is first-match, ordered:
    deletes → a tombstone-audit topic, high-value payloads → a
    priority topic, payloads missing the contract key → quarantine,
    else the default topic — the same lane taxonomy the connector
    config compiler (cdc_connect_config_pipeline) builds, expressed
    as one routing expression.

    Shape: the router is a single CASE projection in codegen (zero
    exchanges); the per-topic audit is one hash aggregate. min/max
    are order-independent so the audit is bit-exact cross-engine
    (sums of doubles would not be).
    """
    ce = cdc.cdc_events(spark, sf_dir)
    topic = (
        F.when(F.col("op") == "d", "dlt.tombstones")
        .when(F.col("val") >= 100.0, "events.high_value")
        .when(F.get_json_object("props", "$.k").isNull(), "events.quarantine")
        .otherwise("events.default")
    )
    return (
        ce.select(topic.alias("topic"), "pk", "val")
        .groupBy("topic")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("pk").alias("n_keys"),
            (F.floor(F.min("val") * 10000.0 + 0.5) / 10000.0).alias("min_val"),
            (F.floor(F.max("val") * 10000.0 + 0.5) / 10000.0).alias("max_val"),
        )
    )


@query(
    "cdc_header_enrich",
    oracle="""
    SELECT event_id,
           to_json(struct_pack(
             connector := 'postgresql',
             env := 'prod',
             src_ts_us := epoch_us(ts),
             evt := event_type)) AS headers_json,
           user_id AS payload_user,
           floor(value * 10000.0 + 0.5) / 10000.0 AS payload_val
    FROM events
    """,
)
def cdc_header_enrich(spark, sf_dir):
    """B-extension: InsertField + HeaderFrom — Kafka Connect's
    metadata-enrichment SMTs (org.apache.kafka.connect.transforms.
    InsertField$Value adds static/env fields and source metadata;
    HeaderFrom moves a payload field into the record headers; public
    Connect docs — the provenance plumbing a reference deployment
    adds so downstream sinks can audit origin without parsing the
    envelope). Headers here: static connector/env tags, the source
    timestamp, and the routed event type moved out of the payload;
    the payload keeps the business fields.

    Shape: narrow per-row projection, to_json in codegen, zero
    exchanges — rides the source scan's partitioning at any scale.
    Header maps serialize with declared field order on both engines,
    so the JSON strings compare bit-exact.
    """
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.to_json(
            F.struct(
                F.lit("postgresql").alias("connector"),
                F.lit("prod").alias("env"),
                F.col("ts_us").alias("src_ts_us"),
                F.col("event_type").alias("evt"),
            )
        ).alias("headers_json"),
        F.col("user_id").alias("payload_user"),
        (F.floor(F.col("value") * 10000.0 + 0.5) / 10000.0).alias("payload_val"),
    )


@query(
    "cdc_partition_routing",
    oracle="""
    WITH h AS (
      SELECT list_reduce(list_transform(
               string_split(substr(md5(CAST(user_id AS VARCHAR)), 1, 8), ''),
               c -> strpos('0123456789abcdef', c) - 1),
               (a, x) -> a * 16 + x)::BIGINT % 12 AS partition_id,
             user_id
      FROM events
    ),
    p AS (
      SELECT partition_id, count(*) AS n_events,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_keys
      FROM h GROUP BY partition_id
    )
    SELECT partition_id, n_events, n_keys,
           floor(n_events * 12.0 * 10000.0
                 / (SELECT sum(n_events) FROM p) + 0.5) / 10000.0 AS load_ratio
    FROM p
    """,
)
def cdc_partition_routing(spark, sf_dir):
    """B-extension: PartitionRouting — Debezium's partition-compute
    SMT (io.debezium.transforms.partitions.PartitionRouting, public
    Debezium 2.4 docs: route each event to partition
    hash(payload field) % partition.topic.num so one entity's events
    stay ordered on one partition). Mirrors the reference's 12-way
    keyed topics (prod-resources.yaml:94-95); the audit is the
    balance check an operator runs before sizing partitions: events
    and key cardinality per partition plus load_ratio (1.0 = exactly
    the fair 1/12 share) — hot-key skew shows up as a ratio >> 1, the
    signal that triggers the salting helper (join_skew_salted lane).

    Hash is the engine-portable md5-prefix word hash (identical
    Spark/DuckDB values — ext/hashing.py), not each engine's native
    partitioner, so the routing decision itself is gate-checked.
    Shape: one hash aggregate to 12 rows; the ratio join is against a
    1-row global sum (broadcast). At 100 TB the router is a narrow
    pmod projection riding the scan.
    """
    from .ext.hashing import word_hash

    ev = load_table(spark, sf_dir, "events")
    p = (
        ev.select(
            F.pmod(word_hash(F.col("user_id").cast("string")), F.lit(12)).alias(
                "partition_id"
            ),
            "user_id",
        )
        .groupBy("partition_id")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_keys"),
        )
    )
    # global total via an empty-frame window over the 12 aggregated
    # rows — NOT a second aggregate branch, which would rescan the
    # corpus (verified in the plan: the crossJoin(total) formulation
    # re-ran the whole aggregate on the broadcast leg)
    from pyspark.sql import Window

    tot = F.sum("n_events").over(Window.partitionBy())
    return p.select(
        "partition_id",
        "n_events",
        "n_keys",
        (F.floor(F.col("n_events") * 12.0 * 10000.0 / tot + 0.5) / 10000.0
         ).alias("load_ratio"),
    )


@query(
    "cdc_timezone_convert",
    oracle="""
    SELECT event_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_utc,
           strftime(ts AT TIME ZONE 'UTC' AT TIME ZONE 'America/New_York',
                    '%Y-%m-%d %H:%M:%S') AS ts_ny,
           CAST(strftime(ts AT TIME ZONE 'UTC' AT TIME ZONE 'America/New_York',
                         '%H') AS BIGINT) AS ny_hour
    FROM events
    """,
)
def cdc_timezone_convert(spark, sf_dir):
    """B-extension: TimezoneConverter — Debezium 2.4's
    io.debezium.transforms.TimezoneConverter (public docs; new IN the
    reference's pinned 2.4.0.Final release): rewrite the envelope's
    temporal fields from UTC to a configured target zone,
    DST-correctly (converted.timezone=America/New_York). The fixture
    timestamps are UTC instants (time.precision.mode carries them as
    epoch-µs, postgresql-connector.yaml:49); output is the wall-clock
    rendering in source and target zones plus the local hour a
    downstream report would group by.

    Both engines resolve the same IANA tzdata; conversion goes
    through convert_timezone to TIMESTAMP_NTZ so the result is
    independent of the Spark session timezone (date_format on an
    instant would render in session tz). One subtlety makes that
    true: convert_timezone casts a TIMESTAMP input to NTZ using the
    SESSION zone before applying sourceTz, so sourceTz must BE the
    session zone for the instant to round-trip — verified against a
    Tokyo-session probe. Narrow projection, zero exchanges,
    codegen-only.
    """
    ev = load_table(spark, sf_dir, "events")
    sess_tz = spark.conf.get("spark.sql.session.timeZone")
    utc_ntz = F.convert_timezone(F.lit(sess_tz), F.lit("UTC"), F.col("ts"))
    ny_ntz = F.convert_timezone(
        F.lit(sess_tz), F.lit("America/New_York"), F.col("ts")
    )
    return ev.select(
        "event_id",
        F.date_format(utc_ntz, "yyyy-MM-dd HH:mm:ss").alias("ts_utc"),
        F.date_format(ny_ntz, "yyyy-MM-dd HH:mm:ss").alias("ts_ny"),
        F.hour(ny_ntz).cast("long").alias("ny_hour"),
    )


@query(
    "cdc_stream_latest_state_roundtrip",
    oracle=CDC_CTE
    + """
    SELECT pk, ts_us, val
    FROM (
      SELECT * FROM cdc_events
      QUALIFY row_number() OVER (PARTITION BY pk ORDER BY ts_us DESC, ord2 DESC) = 1
    )
    WHERE op <> 'd'
    """,
)
def cdc_stream_latest_state_roundtrip(spark, sf_dir):
    """E1/E6/E7/E10 EXECUTED behind the correctness gate: a real
    Structured Streaming query (file source, one chunk per
    micro-batch, availableNow trigger, checkpointed) replays the
    event log with EVERY chunk delivered twice — the at-least-once
    redelivery the reference's 5 s offset-flush window implies
    (prod-resources.yaml:14-20) — through the idempotent upsert sink,
    and the landed state must hash-equal the batch latest-state
    oracle.

    SINK: the merge-on-read DeltaUpsertSink over its TxTable log —
    each micro-batch is one append commit (O(batch), no read of prior
    state); the latest-per-key window runs once at read, and a
    compaction commit every 3 batches folds state to one row per key
    (true log compaction: state size is #keys, not log size), firing
    mid-stream so the final read crosses a compacted base AND later
    appends. A copy-on-write sink's per-batch cost grows with
    accumulated state (O(total²/batch) over a drain).

    Determinism: chunk files carry strictly increasing mtimes
    (write_event_chunks), so "one chunk per micro-batch, in log
    order" is a fixture guarantee, and the read-side per-key
    (ts_us, ord2) max makes the fold robust to any residual batch
    interleaving. The landed state lives in a per-(lane, fixture)
    scratch dir (recreated each run) and is returned as a LAZY reader
    — never collected to the driver: at a 100 TB key space a
    state-sized collect is a driver OOM.
    """
    import tempfile

    from .streaming.replay import (
        drain,
        lane_dir,
        read_event_stream,
        write_event_chunks,
    )
    from .streaming.state import DeltaUpsertSink

    state = lane_dir("latest_state_stream", sf_dir)
    with tempfile.TemporaryDirectory(
        prefix="cdc_stream_gate_", ignore_cleanup_errors=True
    ) as base:
        chunks = f"{base}/chunks"
        write_event_chunks(spark, sf_dir, chunks, n_chunks=4, repeat=2)
        stream = cdc.to_cdc(read_event_stream(spark, chunks))
        # fixed-cadence compaction: this sink's base is KEY-BOUNDED
        # (#keys rows), so a size ratio would fold every batch; the
        # log-sized scd2 twin compacts on a ratio.
        sink = DeltaUpsertSink(
            state, keys=["pk"], order=["ts_us", "ord2"], compact_every=3
        )
        drain(
            stream.writeStream.foreachBatch(sink),
            f"{base}/cp",
            "cdc_stream_latest_state_roundtrip",
        )
        return sink.read_live(spark).select("pk", "ts_us", "val")


@query(
    "scan_csv_roundtrip",
    oracle="""
    SELECT event_id, user_id, event_type, value, props
    FROM events
    """,
)
def scan_csv_roundtrip(spark, sf_dir):
    """A-section format depth: CSV round-trip fidelity. Kafka Connect
    deployments routinely bulk-load reference data as CSV (the
    spooldir/file-pulse connector family); the contract that matters
    is LOSSLESS round-trip: quoting/escaping survives the props JSON
    column (embedded commas, quotes, braces), and doubles re-parse to
    the identical bits (Spark writes shortest-roundtrip
    representations). The lane writes the events table as quoted CSV,
    reads it back with an explicit schema (never inferSchema — the
    100 TB posture reads headers once, not the data twice), and the
    full row multiset must hash-equal the parquet-sourced oracle.

    Shape: narrow write + narrow scan, no shuffle; scratch dir is
    per-fixture deterministic and overwritten per run.
    """
    from .streaming.replay import lane_dir

    out = lane_dir("csv", sf_dir)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value", "props"
    )
    (
        ev.write.mode("overwrite")
        .option("header", "true")
        .option("quoteAll", "true")
        .option("escape", '"')
        .csv(out)
    )
    return (
        spark.read.schema(
            "event_id long, user_id long, event_type string, "
            "value double, props string"
        )
        .option("header", "true")
        .option("escape", '"')
        # quoted fields may legally contain record delimiters; without
        # multiLine the reader splits them mid-field (verified with an
        # embedded-newline probe). Costs file-level parallelism only —
        # at scale CSV is the ingest edge, not the hot path.
        .option("multiLine", "true")
        .csv(out)
    )


@query(
    "scan_orc_roundtrip",
    oracle="""
    SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value, props
    FROM events
    """,
)
def scan_orc_roundtrip(spark, sf_dir):
    """A-section format depth: ORC round-trip — the second columnar
    format a warehouse-facing pipeline meets (Hive-lineage sinks;
    the reference's declared data-warehouse arrow README.md:49). The
    lane rewrites the events table as ORC and reads it back; every
    column including the µs-precision timestamp (carried as epoch-µs
    long, the time.precision.mode contract) must survive bit-exact.
    DuckDB cannot read ORC, so the oracle reads the same rows from
    parquet — the comparison IS the cross-format fidelity check.

    Shape: narrow write + narrow scan with column pruning and
    predicate pushdown available on read (ORC carries min/max stats
    like parquet); no shuffle.
    """
    from .streaming.replay import lane_dir

    out = lane_dir("orc", sf_dir)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts_us", "user_id", "event_type", "value", "props"
    )
    ev.write.mode("overwrite").orc(out)
    return spark.read.orc(out)


@query(
    "xml_wire_roundtrip",
    oracle="""
    SELECT event_id, user_id, event_type, value AS val, props,
           length(props) AS props_len
    FROM events
    """,
)
def xml_wire_roundtrip(spark, sf_dir):
    """A12 sibling: XML wire format — the third wire codec beside
    JSON (json_roundtrip) and Avro (avro_roundtrip). Kafka Connect
    ships an XML converter in the enterprise catalog and legacy
    upstreams still emit XML payloads; Spark 4 carries a native
    to_xml/from_xml pair, so the engine covers the format with zero
    Python: each event serializes to an XML document (entity escaping
    exercised for real — the props JSON column carries quotes and
    braces) and a fresh from_xml with an explicit schema must recover
    every field bit-exactly, doubles included (shortest-roundtrip
    literals). The oracle states the identity the roundtrip must
    satisfy — the parse path is what's under test.

    Shape: narrow projection, both codecs JVM-side in whole-stage
    codegen; at 100 TB this is the same zero-shuffle scan shape as
    the JSON wire lane.
    """
    ev = load_table(spark, sf_dir, "events")
    wire = ev.select(
        F.to_xml(
            F.struct(
                F.col("event_id"),
                F.col("user_id"),
                F.col("event_type"),
                F.col("value").alias("val"),
                F.col("props"),
            )
        ).alias("xml")
    )
    parsed = wire.select(
        F.from_xml(
            "xml",
            "event_id long, user_id long, event_type string, "
            "val double, props string",
        ).alias("v")
    )
    return parsed.select(
        "v.event_id",
        "v.user_id",
        "v.event_type",
        "v.val",
        "v.props",
        F.length("v.props").cast("long").alias("props_len"),
    )


@query(
    "cdc_schema_evolution_roundtrip",
    oracle="""
    SELECT event_id, user_id,
           CAST(NULL AS DOUBLE) AS amount_before_ddl,
           value AS amount
    FROM events
    """,
)
def cdc_schema_evolution_roundtrip(spark, sf_dir):
    """A17 EXECUTED behind the correctness gate: the schema-evolution
    consumer loop — until now pytest-only — run end-to-end on the
    wire. The producer adds a column upstream; the schemaless JSON
    wire (schemas.enable=false, prod-resources.yaml:12-13) keeps
    carrying the new field either way, and the consumer's typed view
    of the SAME bytes changes only when the schema-change topic's DDL
    (include.schema.changes, postgresql-connector.yaml:44-46) is
    folded into the schema catalog via apply_ddl: parsed with the
    pre-DDL schema the new field is invisible (amount_before_ddl IS
    NULL on every row — the oracle pins that), parsed with the
    evolved schema it is fully typed (amount must equal the source
    column bit-exactly). No reprocessing, no crash — exactly the
    contract the reference buys by emitting DDL events instead of
    breaking the stream.

    Shape: two from_json projections over one wire scan, all
    whole-stage codegen; apply_ddl is driver-side metadata only.
    """
    from pyspark.sql.types import LongType, StructField, StructType

    from .sources.debezium import apply_ddl

    ev = load_table(spark, sf_dir, "events")
    wire = ev.select(
        F.to_json(
            F.struct(
                F.col("event_id"),
                F.col("user_id"),
                F.col("value").alias("amount"),
            )
        ).alias("value")
    )
    v1 = StructType(
        [StructField("event_id", LongType()), StructField("user_id", LongType())]
    )
    v2 = apply_ddl(v1, 'ALTER TABLE public.events ADD COLUMN "amount" double')
    before = F.from_json("value", v1).alias("b")
    after = F.from_json("value", v2).alias("a")
    # keys come from the PRE-DDL parse: the old consumer keeps working
    # on new-shape bytes (forward compatibility); the new field comes
    # from the post-DDL parse. v1 has no 'amount' field AT ALL — its
    # absence is structural, surfaced as the typed NULL the oracle pins.
    return wire.select(before, after).select(
        F.col("b.event_id").alias("event_id"),
        F.col("b.user_id").alias("user_id"),
        F.lit(None).cast("double").alias("amount_before_ddl"),
        F.col("a.amount").alias("amount"),
    )


@query(
    "cdc_checkpoint_resume_roundtrip",
    oracle=CDC_CTE
    + """
    SELECT pk, ts_us, val
    FROM (
      SELECT * FROM cdc_events
      QUALIFY row_number() OVER (PARTITION BY pk ORDER BY ts_us DESC, ord2 DESC) = 1
    )
    WHERE op <> 'd'
    """,
)
def cdc_checkpoint_resume_roundtrip(spark, sf_dir):
    """A13 EXECUTED behind the correctness gate: offset tracking and
    crash-restart recovery. The reference flushes connector offsets
    every 5 s so a crashed worker resumes from its last committed
    position (prod-resources.yaml:14-20); the Structured Streaming
    checkpoint is the exact analog. This lane runs the chunked replay
    in TWO separate stream incarnations against ONE checkpoint: the
    first is stopped after a single micro-batch (the crash), the
    second restarts from the checkpoint and drains the rest. Processed
    offsets must not replay into duplicates and unprocessed chunks
    must not be skipped — the landed upsert state hash-equals the
    batch latest-state oracle only if resume-at-offset is exact.

    Shape notes as cdc_stream_latest_state_roundtrip (same fixture
    generator, same scratch-dir + lazy-reader materialization); the
    deliberate stop adds one stream startup cost, nothing else.
    """
    import tempfile
    import time

    from .streaming.replay import (
        drain,
        lane_dir,
        read_event_stream,
        start,
        write_event_chunks,
    )
    from .streaming.state import DeltaUpsertSink

    state = lane_dir("resume_stream", sf_dir)
    with tempfile.TemporaryDirectory(
        prefix="cdc_resume_gate_", ignore_cleanup_errors=True
    ) as base:
        chunks, cp = f"{base}/chunks", f"{base}/cp"
        write_event_chunks(spark, sf_dir, chunks, n_chunks=4)

        def upsert(sink):
            stream = cdc.to_cdc(read_event_stream(spark, chunks))
            return stream.writeStream.foreachBatch(sink)

        # incarnation 1: process at least one micro-batch, then "crash"
        # (stop() returns once the query thread has exited)
        sink = DeltaUpsertSink(state, keys=["pk"], order=["ts_us", "ord2"])
        q1 = start(upsert(sink), cp)
        deadline = time.time() + 120
        while time.time() < deadline:
            if any(p["numInputRows"] > 0 for p in q1.recentProgress):
                break
            time.sleep(0.2)
        q1.stop()

        # incarnation 2: fresh reader + fresh sink object over the
        # same state dir, SAME checkpoint — resumes from the committed
        # offset
        sink2 = DeltaUpsertSink(state, keys=["pk"], order=["ts_us", "ord2"])
        drain(upsert(sink2), cp, "cdc_checkpoint_resume_roundtrip")
        return sink2.read_live(spark).select("pk", "ts_us", "val")


@query(
    "cdc_scd2_stream_roundtrip",
    oracle=CDC_CTE
    + """
    SELECT pk, ord2, op, val,
           ts_us AS valid_from_us,
           lead(ts_us) OVER (PARTITION BY pk ORDER BY ts_us, ord2) AS valid_to_us
    FROM cdc_events
    """,
)
def cdc_scd2_stream_roundtrip(spark, sf_dir):
    """B7 on the STREAMING runtime, behind the gate: incremental SCD2
    history maintenance. The chunked log replays — every chunk
    delivered twice (at-least-once) — and the final history table
    must hash-equal the batch SCD2 window oracle row-for-row (every
    event, every interval bound, open intervals as NULL valid_to).
    History maintenance is the DW sink's audit contract
    (README.md:49) — harder than latest-state because a late event
    SPLICES an interval (shortens its predecessor's valid_to), which
    the set-derivation handles by construction rather than by
    patching.

    SINK: the merge-on-read Scd2DeltaHistorySink over its TxTable
    log — per micro-batch the sink appends the deduped batch as one
    commit (O(batch), no read of prior state); redelivered rows are
    absorbed by the read-side (pk, ord2) dedup and intervals derive
    with ONE lead() window at read. Compaction fires once the bytes
    appended since the last fold reach the base's size, so it runs
    mid-stream and the final read crosses a compacted base AND later
    appends. Measured at sf1: copy-on-write drain 29.7 s with
    per-batch cost growing in accumulated state (O(total²/batch));
    merge-on-read 13.0 s, flat per-batch — the property that survives
    100 TB.
    """
    import tempfile

    from .streaming.replay import (
        drain,
        lane_dir,
        read_event_stream,
        write_event_chunks,
    )
    from .streaming.state import Scd2DeltaHistorySink

    # history is LOG-sized (every event keeps a row) — never collect
    # it to the driver; the state lives in a per-fixture scratch dir
    # (recreated each run) and is returned as a lazy reader
    state = lane_dir("scd2_stream", sf_dir)
    with tempfile.TemporaryDirectory(
        prefix="cdc_scd2_gate_", ignore_cleanup_errors=True
    ) as base:
        chunks = f"{base}/chunks"
        write_event_chunks(spark, sf_dir, chunks, n_chunks=4, repeat=2)
        stream = cdc.to_cdc(read_event_stream(spark, chunks))
        # size-ratio compaction: history is LOG-sized, the base grows
        # with ingested volume, so the geometric amortization holds —
        # unlike the key-bounded latest-state twin, which uses cadence.
        sink = Scd2DeltaHistorySink(state, keys=["pk"], compact_ratio=1.0)
        drain(
            stream.writeStream.foreachBatch(sink),
            f"{base}/cp",
            "cdc_scd2_stream_roundtrip",
        )
        return sink.read_history(spark).select(
            "pk", "ord2", "op", "val", "valid_from_us", "valid_to_us"
        )


@query(
    "scan_jsonl_roundtrip",
    oracle="""
    SELECT doc_id, lang, source, n_chars, length(text) AS text_len
    FROM documents
    """,
)
def scan_jsonl_roundtrip(spark, sf_dir):
    """A-section format depth: gzipped-JSONL round-trip — the
    interchange format of LLM corpus pipelines (sharded .jsonl.gz is
    how web-scale text corpora ship). The documents table is sharded
    to ~100-record gzip JSONL files and read back through the
    engine's explicit-schema reader (sources/jsonl.py: text +
    from_json with a corrupt-record lane — never spark.read.json
    inference, which would scan the corpus twice at 100 TB); every
    field including the full text must survive, checked here via
    exact text length next to the scalar columns (the driver hash
    cannot carry megabyte cells, so the text column itself is
    reduced to its length witness).

    Completes the format coverage: parquet (native), CSV, ORC, XML,
    Avro wire, JSON wire, and now sharded JSONL-gz files.
    """
    from .sources.jsonl import read_jsonl, write_jsonl
    from .streaming.replay import lane_dir

    out = lane_dir("jsonl", sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    write_jsonl(docs.select("doc_id", "text", "lang", "source", "n_chars"), out, 100)
    good, _corrupt = read_jsonl(
        spark,
        out,
        docs.select("doc_id", "text", "lang", "source", "n_chars").schema,
    )
    return good.select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        F.length("text").cast("long").alias("text_len"),
    )


@query(
    "cdc_multi_table_pipeline",
    oracle="""
    WITH routed AS (
      SELECT CASE WHEN event_type IN ('signup', 'error') THEN 'users'
                  WHEN event_type IN ('click', 'view') THEN 'orders'
                  ELSE 'payments' END AS tbl,
             CASE WHEN event_type IN ('signup', 'error') THEN user_id
                  WHEN event_type IN ('click', 'view') THEN event_id // 5
                  ELSE event_id // 7 END AS pk,
             CASE event_type WHEN 'signup' THEN 'c'
                             WHEN 'error' THEN 'd' ELSE 'u' END AS op,
             epoch_us(ts) AS ts_us, event_id
      FROM events
    ),
    latest AS (
      SELECT tbl, pk, op, ts_us FROM (
        SELECT *, row_number() OVER (PARTITION BY tbl, pk
                                     ORDER BY ts_us DESC, event_id DESC) AS rn
        FROM routed) WHERE rn = 1
    )
    SELECT r.tbl,
           count(*) AS n_events,
           CAST(count(DISTINCT r.pk) AS BIGINT) AS n_keys,
           (SELECT CAST(count(*) AS BIGINT) FROM latest l
            WHERE l.tbl = r.tbl AND l.op <> 'd') AS n_live_keys,
           (SELECT max(l.ts_us) FROM latest l WHERE l.tbl = r.tbl)
             AS max_state_ts_us
    FROM routed r GROUP BY r.tbl
    """,
)
def cdc_multi_table_pipeline(spark, sf_dir):
    """The reference's actual connector topology, end-to-end: ONE
    capture stream carrying FOUR tables (table.include.list =
    users/orders/products/payments on a single connector,
    postgresql-connector.yaml:39) routed per-table, each table keyed
    by its OWN primary key and compacted to its own latest-state —
    per-table key spaces, delete semantics and state watermarks all
    derived from one interleaved log. Until now every CDC lane
    treated the log as one table; this is the fan-out a real
    deployment runs. Fixture mapping: event-type groups stand in for
    tables, each with a distinct pk derivation so the key spaces
    genuinely differ (users: user_id; orders: event_id/5; payments:
    event_id/7).

    Shape: one (table, pk) window + one table-level aggregate — the
    single-shuffle family; the per-table audit never materializes
    per-table frames or loops on the driver, so 4 tables or 400 cost
    the same plan.
    """
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    tbl = (
        F.when(F.col("event_type").isin("signup", "error"), "users")
        .when(F.col("event_type").isin("click", "view"), "orders")
        .otherwise("payments")
    )
    pk = (
        F.when(F.col("event_type").isin("signup", "error"), F.col("user_id"))
        .when(
            F.col("event_type").isin("click", "view"), F.expr("event_id div 5")
        )
        .otherwise(F.expr("event_id div 7"))
    )
    op = (
        F.when(F.col("event_type") == "signup", "c")
        .when(F.col("event_type") == "error", "d")
        .otherwise("u")
    )
    routed = ev.select(
        tbl.alias("tbl"), pk.alias("pk"), op.alias("op"), "ts_us", "event_id"
    )
    w = Window.partitionBy("tbl", "pk").orderBy(F.desc("ts_us"), F.desc("event_id"))
    latest = (
        routed.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .groupBy("tbl")
        .agg(
            F.sum(F.when(F.col("op") != "d", 1).otherwise(0))
            .cast("long")
            .alias("n_live_keys"),
            F.max("ts_us").alias("max_state_ts_us"),
        )
    )
    per_tbl = routed.groupBy("tbl").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("pk").alias("n_keys"),
    )
    return per_tbl.join(latest, "tbl").select(
        "tbl", "n_events", "n_keys", "n_live_keys", "max_state_ts_us"
    )


@query(
    "cdc_log_continuity_audit",
    oracle="""
    WITH seq AS (
      SELECT CASE WHEN event_type IN ('signup', 'error') THEN 'users'
                  WHEN event_type IN ('click', 'view') THEN 'orders'
                  ELSE 'payments' END AS tbl,
             event_id AS ord
      FROM events
    ),
    d AS (
      SELECT tbl, ord,
             ord - lag(ord) OVER (PARTITION BY tbl ORDER BY ord) AS delta
      FROM seq
    )
    SELECT tbl,
           count(*) AS n_events,
           min(ord) AS first_ord,
           max(ord) AS last_ord,
           CAST(max(ord) - min(ord) + 1 - count(*) AS BIGINT) AS n_missing,
           CAST(sum(CASE WHEN delta > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_gaps,
           CAST(COALESCE(max(CASE WHEN delta > 1 THEN delta - 1 END), 0)
                AS BIGINT) AS max_gap
    FROM d GROUP BY tbl
    """,
)
def cdc_log_continuity_audit(spark, sf_dir):
    """Log-continuity (data-loss) audit — the operational check a CDC
    consumer runs against its source ordinals (Debezium docs: GTID /
    LSN gaps mean the replication slot lost events; the reference's
    offset-flush window, prod-resources.yaml:14-20, makes gap
    monitoring the consumer's only loss detector). Per routed table
    (each table sees an interleaved SUBSET of the global sequence, so
    gaps are structural and the audit is non-vacuous): event count,
    ordinal bounds, total missing ordinals, gap count and widest gap
    — the numbers that distinguish benign interleaving from loss when
    compared across tables (every global ordinal must appear in
    exactly one table: sum of n_events = global span).

    Shape: one (table)-partitioned lag window and one table aggregate
    sharing the same exchange — the cdc_order_audit family.
    """
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    tbl = (
        F.when(F.col("event_type").isin("signup", "error"), "users")
        .when(F.col("event_type").isin("click", "view"), "orders")
        .otherwise("payments")
    )
    seq = ev.select(tbl.alias("tbl"), F.col("event_id").alias("ord"))
    w = Window.partitionBy("tbl").orderBy("ord")
    d = seq.withColumn("delta", F.col("ord") - F.lag("ord").over(w))
    gap = F.col("delta") > 1
    return d.groupBy("tbl").agg(
        F.count("*").alias("n_events"),
        F.min("ord").alias("first_ord"),
        F.max("ord").alias("last_ord"),
        (F.max("ord") - F.min("ord") + 1 - F.count("*"))
        .cast("long")
        .alias("n_missing"),
        F.sum(F.when(gap, 1).otherwise(0)).cast("long").alias("n_gaps"),
        F.coalesce(F.max(F.when(gap, F.col("delta") - 1)), F.lit(0))
        .cast("long")
        .alias("max_gap"),
    )


@query(
    "cdc_wire_size_audit",
    oracle="""
    WITH wire AS (
      SELECT event_type,
             length(to_json(struct_pack(
               event_id := event_id,
               user_id := user_id,
               event_type := event_type,
               ts_us := epoch_us(ts),
               props := props))) AS n_bytes
      FROM events
    )
    SELECT event_type,
           count(*) AS n,
           CAST(min(n_bytes) AS BIGINT) AS min_bytes,
           CAST(max(n_bytes) AS BIGINT) AS max_bytes,
           floor(quantile_cont(n_bytes, 0.5) * 10.0 + 0.5) / 10.0 AS p50_bytes,
           floor(quantile_cont(n_bytes, 0.95) * 10.0 + 0.5) / 10.0 AS p95_bytes
    FROM wire GROUP BY event_type
    """,
)
def cdc_wire_size_audit(spark, sf_dir):
    """Wire-size audit of the serialized JSON envelope per stream —
    the measurement behind the broker/producer byte budgets the
    reference tunes (Kafka max.request.size / max.message.bytes; the
    12-partition layout at prod-resources.yaml:94-95 assumes messages
    stay well under segment limits): exact min/max and R-7 p50/p95 of
    the message size a JsonConverter-style payload actually produces.
    The doubles column is deliberately excluded from the measured
    payload — engines format float literals differently, and the lane
    audits SIZES, not values; every serialized field has an
    engine-identical text form (integers, strings), so the byte
    counts are exact cross-engine.

    Shape: to_json + length in codegen on the scan, one per-type
    exact-percentile aggregate. At 100 TB you run the sketch
    percentile (agg_approx_quantile_prod) and keep this exact form
    for per-partition audits.
    """
    ev = load_table(spark, sf_dir, "events")
    wire = ev.select(
        "event_type",
        F.length(
            F.to_json(
                F.struct(
                    F.col("event_id"),
                    F.col("user_id"),
                    F.col("event_type"),
                    F.col("ts_us"),
                    F.col("props"),
                )
            )
        ).alias("n_bytes"),
    )
    r1 = lambda c: F.floor(c * 10.0 + F.lit(0.5)) / 10.0  # noqa: E731
    return wire.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.min("n_bytes").cast("long").alias("min_bytes"),
        F.max("n_bytes").cast("long").alias("max_bytes"),
        r1(F.expr("percentile(n_bytes, 0.5)")).alias("p50_bytes"),
        r1(F.expr("percentile(n_bytes, 0.95)")).alias("p95_bytes"),
    )
