"""Inputs the benchmark fixes in its own files, so that an edit to
``bench.py`` or to the engine's defaults cannot change what is measured.
"""

from __future__ import annotations

# The 32 production lanes of the headline suite, in run order.
HEADLINE = (
    "cdc_latest_state",
    "cdc_scd2_history",
    "cdc_as_of_snapshot",
    "dedup_exact",
    "join_large",
    "join_as_of",
    "agg_groupby",
    "agg_rollup",
    "window_running",
    "topk_per_group",
    "udf_grouped_processor",
    "agg_sliding_window",
    "ext_dedup_minhash",
    "ext_dedup_spans",
    "ext_dedup_embedding_ann",
    "ext_similarity_topk",
    "ext_similarity_ivf_trained",
    "ext_similarity_ivf_prod",
    "ext_embedding_pq",
    "ext_text_stats",
    "ext_text_oov_rate",
    "ext_text_bigram_logprob",
    "ext_retrieval_bm25",
    "ext_multimodal_real_header",
    "cdc_mysql_envelope",
    "agg_approx_quantile_prod",
    "ext_text_kn_logprob",
    "ext_eval_overlap_report",
    "ext_similarity_rp_lsh",
    "tpch_q5",
    "tpch_q6",
    "tpch_q18",
)

# The reference's PostgreSQL connector properties: route
# prod.public.<table> to <table>, unwrap the envelope, rewrite deletes
# and keep tombstones.
CONNECTOR_CONFIG = {
    "connector.class": "io.debezium.connector.postgresql.PostgresConnector",
    "table.include.list": "public.orders",
    "include.schema.changes": "false",
    "transforms": "route,unwrap",
    "transforms.route.type": "org.apache.kafka.connect.transforms.RegexRouter",
    "transforms.route.regex": r"([^.]+)\.([^.]+)\.([^.]+)",
    "transforms.route.replacement": "$3",
    "transforms.unwrap.type": "io.debezium.transforms.ExtractNewRecordState",
    "transforms.unwrap.drop.tombstones": "false",
    "transforms.unwrap.delete.handling.mode": "rewrite",
}

# Row image of the captured table, as Spark DDL.
ROW_DDL = "id BIGINT, customer_id BIGINT, status STRING, amount DOUBLE"

# Kafka-shaped frame the staged chunk files hold, one JSON object a line.
FRAME_DDL = "topic STRING, value STRING"

# The lanes batch_headline runs: every other headline lane. A cold and
# a steady pass over all 32 take 65-75 s on 4 cores; with set-up that
# is more than one run of a two-workload benchmark may spend when the
# driver makes 22 runs of each within its time limit. The half keeps
# each family (CDC spine, relational, UDF, dedup, ANN, text, TPC-H).
BATCH_LANES = HEADLINE[::2]

# Scale of the catalog tables behind batch_headline (sf0.01: 60k
# lineitem rows). Lane walls are set by fixed costs up to here; at sf0.1
# they triple.
BATCH_SF = 0.01

# Lanes checked against their DuckDB oracle in one run: every
# ORACLE_STRIDE-th of BATCH_LANES, starting at seed % ORACLE_STRIDE, so
# four consecutive seeds cover all of them.
ORACLE_STRIDE = 4

# Sink cadence: fold base + deltas every third micro-batch, the
# production latest-state lane's setting.
COMPACT_EVERY = 3

# cdc_replay_drain: a fixed backlog of DRAIN_BATCHES micro-batches (one
# staged chunk each; every chunk is delivered twice) so the per-batch
# percentiles always rest on the same sample count. Chunk size scales
# with --seconds. About two events per key: the key space grows with
# the log, like an orders table.
DRAIN_BATCHES = 40
DRAIN_EVENTS_PER_SECOND_OF_RUN = 50
DRAIN_EVENTS_PER_KEY = 2
DRAIN_MALFORMED = 8

# cdc_live_serving: the generator publishes one chunk every
# LIVE_INTERVAL_S at LIVE_RATE events/s over LIVE_KEYS hot keys. The
# rate keeps the parent commit's backlog under the reference's
# consumer-lag SLO of 1000 events. The measured window opens
# LIVE_WARMUP_S after the first micro-batch is visible, so the start-up
# backlog is not measured, and lasts --seconds; a traced run stretches
# it (up to LIVE_MAX_S) until the p90 tails have their samples.
LIVE_RATE = 500
LIVE_INTERVAL_S = 0.1
LIVE_KEYS = 1500
LIVE_MALFORMED_PER_100K = 40
LIVE_WARMUP_S = 3.0
LIVE_MAX_S = 90.0

# A p50 needs 20 samples, a p75 40 and a p90 100 (see
# stats.percentile).
MIN_SAMPLES_P50 = 20
MIN_SAMPLES_P90 = 100
READS_WARMUP = 4
READS_AFTER_RUN = 24
READ_TIMEOUT_S = 10.0
