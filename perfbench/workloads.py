"""The three workloads. Each takes a ``Run`` (see run.py), measures, checks
its outputs and fills ``run.e2e``, ``run.layers`` and ``run.detail``.

End-to-end metric bindings (every workload reports every metric):

============  =======================  ========================  ======================
metric        batch_headline           cdc_replay_drain          cdc_live_serving
============  =======================  ========================  ======================
cold_s        sum of first-pass lane   stream start -> first     stream start -> first
              walls                    micro-batch visible       micro-batch visible
headline_s    sum of steady per-lane   wall to drain the staged  freshness p50: due time
              median walls             backlog                   -> visible in the sink
read_p50_s    point lookup on the      point lookup through      point lookup through
              catalog's orders table   read_live after the drain read_live beside writes
============  =======================  ========================  ======================
"""

from __future__ import annotations

import itertools
import json
import os
import random
import threading
import time
from statistics import median

import frozen
import oracle
from datagen import cdc_log, envelope_lines, write_tables
from stats import percentile

now = time.perf_counter

TRACED_GROUP = "perfbench-traced:"


def _why(e: Exception) -> str:
    java = getattr(e, "java_exception", None)
    if java is not None:
        return f"{java.getClass().getName()}: {java.getMessage()}"[:300]
    return repr(e)[:300]


# --- batch_headline ----------------------------------------------------------


def _run_lane(run, key: str, data: str, traced: bool) -> float | None:
    from cdc_debezium_spark import registry

    spark, sc, tr = run.spark, run.spark.sparkContext, run.tracer
    fn = registry.QUERIES.get(key)
    run.attempted += 1
    if fn is None:
        run.fail(f"lane {key}: not registered")
        return None
    try:
        t0 = now()
        if traced:
            group = TRACED_GROUP + key
            with tr.span("lane." + key):
                sc.setJobGroup(group + ":construct", key)
                with tr.span("registry.construct"):
                    df = fn(spark, data)
                eager = sc.statusTracker().getJobIdsForGroup(group + ":construct")
                tr.add("registry.eager_jobs", len(eager))
                sc.setJobGroup(group + ":exec", key)
                with tr.span("spark.plan"):
                    df._jdf.queryExecution().executedPlan()
                with tr.span("spark.exec"):
                    df.write.format("noop").mode("overwrite").save()
        else:
            fn(spark, data).write.format("noop").mode("overwrite").save()
        return now() - t0
    except Exception as e:  # a failing lane is counted, never skipped
        run.fail(f"lane {key}: {_why(e)}")
        return None
    finally:
        if traced:
            sc.setLocalProperty("spark.jobGroup.id", None)
        spark.catalog.clearCache()


def _catalog_reads(run, data: str) -> list[float]:
    import pyarrow.parquet as pq
    import pyspark.sql.functions as F
    from cdc_debezium_spark.sources import catalog

    n_orders = pq.read_metadata(os.path.join(data, "orders.parquet")).num_rows
    rng = random.Random(run.seed)
    lat = []
    for j in range(frozen.READS_WARMUP + frozen.READS_AFTER_RUN):
        k = rng.randrange(n_orders)
        run.attempted += 1
        try:
            t0 = now()
            rows = (
                catalog.load_table(run.spark, data, "orders")
                .where(F.col("o_orderkey") == k).collect()
            )
            dt = now() - t0
        except Exception as e:
            run.fail(f"catalog read {k}: {_why(e)}")
            continue
        if len(rows) != 1 or rows[0]["o_orderkey"] != k:
            run.fail(f"catalog read {k}: {len(rows)} rows")
        elif j >= frozen.READS_WARMUP:
            lat.append(dt)
    return lat


def batch_headline(run) -> None:
    from cdc_debezium_spark.testing import compare_query

    data = run.path("data")
    t = now()
    write_tables(data, run.seed, run.sf or frozen.BATCH_SF)
    datagen_s = now() - t
    lanes = frozen.BATCH_LANES

    phase = {"datagen": datagen_s}
    t = now()
    cold = {}
    for key in lanes:
        dt = _run_lane(run, key, data, traced=False)
        if dt is not None:
            cold[key] = dt
    phase["cold"] = now() - t

    # Steady passes in a closed loop until --seconds have passed, with
    # at least one full pass and enough samples for a median. A traced
    # run alternates untraced and traced passes and stops only after a
    # full traced pass, so that the tracing overhead is the difference
    # between the two over the same lanes.
    steady: dict[str, list[float]] = {k: [] for k in lanes}
    traced_walls: dict[str, float] = {}
    t_start = now()

    def done(p: int, i: int) -> bool:
        n = sum(map(len, steady.values()))
        last = i == len(lanes) - 1
        if run.traced:
            return p >= 1 and last and n >= frozen.MIN_SAMPLES_P50
        return (p >= 1 or last) and n >= frozen.MIN_SAMPLES_P50 and (
            now() - t_start >= run.seconds
        )

    p, stop = 0, False
    while not stop:
        traced = run.traced and p % 2 == 1
        run.tracer.enabled = traced
        for i, key in enumerate(lanes):
            dt = _run_lane(run, key, data, traced)
            if dt is not None and traced:
                traced_walls[key] = dt
            elif dt is not None:
                steady[key].append(dt)
            if done(p, i):
                stop = True
                break
        p += 1
    run.tracer.enabled = False
    phase["steady"] = now() - t_start

    per_lane = {k: median(v) for k, v in steady.items() if v}
    samples = [x for v in steady.values() for x in v]
    t = now()
    reads = _catalog_reads(run, data)
    phase["reads"] = now() - t

    t = now()
    for key in lanes[run.seed % frozen.ORACLE_STRIDE::frozen.ORACLE_STRIDE]:
        run.attempted += 1
        try:
            compare_query(run.spark, key, data)
        except Exception as e:
            run.fail(f"oracle {key}: {_why(e)}")
    phase["oracle"] = now() - t

    run.e2e.update(
        cold_s=sum(cold.values()),
        headline_s=sum(per_lane.values()),
        read_p50_s=percentile(reads, 0.5),
    )
    run.detail.update(
        batch_cold_s=sum(cold.values()),
        batch_suite_s=sum(per_lane.values()),
        steady_samples=len(samples),
        lane_p50_s=percentile(samples, 0.5),
        lanes_ok=len(per_lane),
        lanes=len(lanes),
        catalog_read_p50_s=percentile(reads, 0.5),
        phase_s=phase,
        lane_steady_s=per_lane,
    )
    if run.traced:
        both = [k for k in traced_walls if k in per_lane]
        base = sum(per_lane[k] for k in both)
        run.layers["trace.overhead_frac"] = (
            sum(traced_walls[k] for k in both) / base - 1.0 if base else 0.0
        )
        run.event_group = TRACED_GROUP
        for name in ("sources.catalog.load_table_calls",
                     "sources.catalog.load_table_s", "registry.construct_s",
                     "registry.eager_jobs", "spark.plan_s", "spark.exec_s"):
            run.layers[name] = run.tracer.counts.get(name, 0.0)


# --- streaming common --------------------------------------------------------


def _pipeline(run):
    from cdc_debezium_spark.sources.config import ConnectorPipeline

    row = run.spark.createDataFrame([], frozen.ROW_DDL).schema
    return ConnectorPipeline.build(frozen.CONNECTOR_CONFIG, row)


def _write_chunk(path: str, lines: list[str], mtime: float) -> None:
    """Write under a name Spark's file source ignores, then rename it
    into place, so the stream never lists a half-written chunk."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, "." + name)
    with open(tmp, "w") as f:
        f.write("\n".join(lines) + "\n")
    os.utime(tmp, (mtime, mtime))
    os.rename(tmp, path)


def _parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    n = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += pq.read_metadata(os.path.join(root, f)).num_rows
    return n


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f))
        for r, _d, fs in os.walk(path) for f in fs
    )


def _batch_files(cp: str, batch_id: int) -> list[str]:
    """Chunk files the file source assigned to ``batch_id``, from its
    metadata log in the checkpoint (plain file reads, no Spark job)."""
    log = os.path.join(cp, "sources", "0")
    for name in (str(batch_id), f"{batch_id}.compact"):
        p = os.path.join(log, name)
        if os.path.exists(p):
            with open(p) as f:
                entries = [json.loads(x) for x in f.read().splitlines()[1:] if x]
            return [
                os.path.basename(e["path"]) for e in entries
                if e.get("batchId") == batch_id
            ]
    return []


class MeteredSink:
    """foreachBatch wrapper around ``DeltaUpsertSink``: records when each
    batch became visible and, when traced, the sink's own work."""

    def __init__(self, run, sink, cp: str) -> None:
        self.run, self.sink, self.cp = run, sink, cp
        self.visible_at: dict[int, float] = {}
        self.files: dict[int, list[str]] = {}
        self.add_batch: list[float] = []
        self.rows_appended = 0
        self.compact_calls = 0
        self.compact_s = 0.0
        self.deltas_max = 0
        self.lock = threading.Lock()
        self._compact = sink.compact
        if run.traced:
            sink.compact = self._metered_compact

    def _metered_compact(self, spark):
        self.rows_appended += _parquet_rows_deltas(self.sink.path)
        t0 = now()
        with self.run.tracer.span("streaming.state.compact"):
            out = self._compact(spark)
        self.compact_s += now() - t0
        self.compact_calls += 1
        return out

    def __call__(self, batch, batch_id: int) -> None:
        t0 = now()
        with self.run.tracer.span("streaming.state.add_batch"):
            self.sink(batch, batch_id)
        t1 = now()
        files = _batch_files(self.cp, batch_id)
        with self.lock:
            self.visible_at[batch_id] = t1
            self.files[batch_id] = files
        if self.run.traced:
            self.add_batch.append(t1 - t0)
            n = sum(1 for d in os.listdir(self.sink.path) if d.startswith("delta_"))
            self.deltas_max = max(self.deltas_max, n)

    def finish(self) -> None:
        if self.run.traced:
            self.rows_appended += _parquet_rows_deltas(self.sink.path)


def _parquet_rows_deltas(path: str) -> int:
    return sum(
        _parquet_rows(os.path.join(path, d))
        for d in os.listdir(path) if d.startswith("delta_")
    )


def _wait_progress(cap, last_batch: int, timeout: float = 30.0) -> None:
    """Listener events arrive asynchronously: wait until the capture has
    the report of ``last_batch``."""
    end = time.time() + timeout
    while time.time() < end:
        if any(p["batchId"] >= last_batch for p in list(cap.progress)):
            return
        time.sleep(0.05)
    raise TimeoutError(f"progress of batch {last_batch} never arrived")


_PHASES = {
    "latestOffset": "latest_offset_s", "getBatch": "get_batch_s",
    "queryPlanning": "query_planning_s", "walCommit": "wal_commit_s",
    "commitOffsets": "commit_offsets_s",
}


def _progress(cap, query_id) -> dict[int, dict]:
    """Last report per batch id of one query."""
    out = {}
    for p in list(cap.progress):
        if str(p["id"]) == str(query_id):
            out[p["batchId"]] = p["durationMs"]
    return out


def _reads(run, sink, keys: int, rng: random.Random, stop, lat: list) -> None:
    """Closed-loop point lookups through ``read_live`` until ``stop``; a
    read that raises or exceeds READ_TIMEOUT_S counts as failed."""
    import pyspark.sql.functions as F

    while not stop():
        k = rng.randrange(keys)
        with run.count_lock:
            run.attempted += 1
        try:
            t0 = now()
            with run.tracer.span("streaming.state.read_live"):
                rows = sink.read_live(run.spark).where(F.col("id") == k).collect()
            dt = now() - t0
        except Exception as e:
            run.fail(f"read {k}: {_why(e)}", wrong_output=False)
            continue
        if len(rows) > 1:
            run.fail(f"read {k}: {len(rows)} live rows")
        elif dt > frozen.READ_TIMEOUT_S:
            run.fail(f"read {k}: took {dt:.1f}s", wrong_output=False)
        else:
            lat.append((now(), dt))


def _check_stream(run, pipe, sink, in_dir: str, expected_malformed: int) -> None:
    """Final state against DuckDB, and malformed payloads against the
    size of the quarantine lane."""
    want, malformed = oracle.expected(os.path.join(in_dir, "chunk_*.json"))
    run.attempted += 2
    got = sorted(
        tuple(r) for r in sink.read_live(run.spark)
        .select("id", "customer_id", "status", "amount").collect()
    )
    if got != want:
        diff = len(set(got) ^ set(want))
        run.fail(f"final state: {len(got)} rows vs {len(want)} expected, {diff} differ")
    t0 = now()
    lanes = pipe.apply(run.spark.read.schema(frozen.FRAME_DDL).json(in_dir))
    lanes["changes"].write.format("noop").mode("overwrite").save()
    parse_s = now() - t0
    quarantined = lanes["quarantine"].count()
    if not quarantined == malformed == expected_malformed:
        run.fail(
            f"quarantine: {quarantined} rows, {malformed} malformed in files, "
            f"{expected_malformed} generated"
        )
    run.detail.update(rows_live=len(got), quarantined=quarantined)
    if run.traced:
        run.layers["sources.config.parse_s"] = parse_s


def _stream_layers(run, cap, q, metered: MeteredSink, read_lat: list,
                   batches: list[int]) -> None:
    """Micro-batch figures over ``batches``; the per-layer split when
    traced."""
    prog = {b: d for b, d in _progress(cap, q.id).items() if b in set(batches)}
    trig = [d.get("triggerExecution", 0) / 1e3 for d in prog.values()]
    run.detail.update(
        microbatches=len(trig),
        microbatch_p50_s=percentile(trig, 0.5),
        read_p50_s=percentile(read_lat, 0.5),
    )
    if len(trig) >= frozen.MIN_SAMPLES_P90:
        run.detail["microbatch_p90_s"] = percentile(trig, 0.9)
    if not run.traced:
        return
    run.event_group = str(q.runId)
    for phase, name in _PHASES.items():
        run.layers["streaming.progress." + name] = median(
            d.get(phase, 0) / 1e3 for d in prog.values()
        )
    metered.finish()
    appended = metered.rows_appended
    run.layers.update({
        "streaming.progress.trigger_p50_s": percentile(trig, 0.5),
        "streaming.progress.trigger_p75_s": percentile(trig, 0.75),
        "streaming.state.add_batch_s": median(metered.add_batch),
        "streaming.state.compact_calls": metered.compact_calls,
        "streaming.state.compact_s": metered.compact_s,
        "streaming.state.live_deltas_max": metered.deltas_max,
        "streaming.state.state_bytes": _dir_bytes(metered.sink.path),
        "streaming.state.rows_appended": appended,
        "streaming.state.read_live_s": percentile(read_lat, 0.5),
    })


# --- cdc_replay_drain --------------------------------------------------------


def cdc_replay_drain(run) -> None:
    from cdc_debezium_spark.streaming.metrics import ProgressCapture
    from cdc_debezium_spark.streaming.state import DeltaUpsertSink

    chunk = frozen.DRAIN_EVENTS_PER_SECOND_OF_RUN * run.seconds
    n_chunks = frozen.DRAIN_BATCHES // 2
    n_events = n_chunks * chunk
    log = cdc_log(run.seed, n_events, n_events // frozen.DRAIN_EVENTS_PER_KEY,
                  frozen.DRAIN_MALFORMED)
    in_dir, cp, state = run.path("in"), run.path("cp"), run.path("state")
    os.makedirs(in_dir)

    # At-least-once delivery: chunk i arrives again right after chunk
    # i+1, as after a consumer restart that rewound one offset commit.
    order = [0]
    for i in range(1, n_chunks):
        order += [i, i - 1]
    order.append(n_chunks - 1)
    t_base = time.time() - len(order) - 10
    delivered = 0
    for j, i in enumerate(order):
        lines = envelope_lines(log, i * chunk, (i + 1) * chunk)
        delivered += len(lines)
        _write_chunk(os.path.join(in_dir, f"chunk_{j:05d}.json"), lines, t_base + j)

    spark = run.spark
    pipe = _pipeline(run)
    cap = ProgressCapture()
    spark.streams.addListener(cap)
    sink = DeltaUpsertSink(state, keys=["id"], order=["ts_ms"],
                           compact_every=frozen.COMPACT_EVERY)
    metered = MeteredSink(run, sink, cp)
    run.tracer.enabled = run.traced
    raw = (spark.readStream.schema(frozen.FRAME_DDL)
           .option("maxFilesPerTrigger", 1).json(in_dir))
    t0 = now()
    q = (pipe.apply(raw)["changes"].writeStream.foreachBatch(metered)
         .option("checkpointLocation", cp).trigger(availableNow=True).start())
    run.attempted += 1
    if not q.awaitTermination(150):
        q.stop()
        raise TimeoutError("drain did not finish in 150 s")
    wall = now() - t0
    if q.exception() is not None:
        raise RuntimeError(f"drain failed: {q.exception()}")
    last = max(metered.visible_at)
    _wait_progress(cap, last)
    spark.streams.removeListener(cap)

    reads: list = []
    calls = itertools.count(1)
    _reads(run, sink, n_events // frozen.DRAIN_EVENTS_PER_KEY,
           random.Random(run.seed),
           lambda: next(calls) > frozen.READS_WARMUP + frozen.READS_AFTER_RUN,
           reads)
    reads = [dt for _, dt in reads[frozen.READS_WARMUP:]]

    _stream_layers(run, cap, q, metered, reads, list(metered.visible_at))
    run.tracer.enabled = False
    run.e2e.update(
        cold_s=metered.visible_at[0] - t0,
        headline_s=wall,
        read_p50_s=percentile(reads, 0.5),
    )
    run.detail.update(
        drain_events_per_s=delivered / wall, delivered=delivered,
        chunks=len(order), events=n_events,
        keys=n_events // frozen.DRAIN_EVENTS_PER_KEY,
    )
    _check_stream(run, pipe, sink, in_dir, 2 * len(log.malformed))


# --- cdc_live_serving --------------------------------------------------------


def cdc_live_serving(run) -> None:
    from cdc_debezium_spark.streaming.metrics import ProgressCapture
    from cdc_debezium_spark.streaming.state import DeltaUpsertSink

    per_chunk = int(frozen.LIVE_RATE * frozen.LIVE_INTERVAL_S)
    max_chunks = int(frozen.LIVE_MAX_S / frozen.LIVE_INTERVAL_S)
    n_events = per_chunk * max_chunks
    log = cdc_log(run.seed, n_events, frozen.LIVE_KEYS,
                  frozen.LIVE_MALFORMED_PER_100K * n_events // 100_000)
    in_dir, cp, state = run.path("in"), run.path("cp"), run.path("state")
    os.makedirs(in_dir)

    spark = run.spark
    pipe = _pipeline(run)
    cap = ProgressCapture()
    spark.streams.addListener(cap)
    sink = DeltaUpsertSink(state, keys=["id"], order=["ts_ms"],
                           compact_every=frozen.COMPACT_EVERY)
    metered = MeteredSink(run, sink, cp)
    run.tracer.enabled = run.traced

    stop_gen = threading.Event()
    stop_read = threading.Event()
    published: dict[str, tuple[float, float, int]] = {}
    malformed = [0]

    def generate(t0: float) -> None:
        for i in range(max_chunks):
            due = t0 + i * frozen.LIVE_INTERVAL_S
            wait = due - now()
            if (wait > 0 and stop_gen.wait(wait)) or stop_gen.is_set():
                return
            lo, hi = i * per_chunk, (i + 1) * per_chunk
            lines = envelope_lines(log, lo, hi)
            name = f"chunk_{i:06d}.json"
            _write_chunk(os.path.join(in_dir, name), lines, time.time())
            with metered.lock:
                published[name] = (due, now(), len(lines))
            malformed[0] += sum(1 for j in range(lo, hi) if j in log.malformed)

    raw = spark.readStream.schema(frozen.FRAME_DDL).json(in_dir)
    t0 = now()
    q = (pipe.apply(raw)["changes"].writeStream.foreachBatch(metered)
         .option("checkpointLocation", cp).start())
    run.attempted += 1
    gen = threading.Thread(target=generate, args=(t0,), name="perfbench-generator")
    gen.start()

    reads: list[tuple[float, float]] = []
    reader = threading.Thread(
        target=_reads, name="perfbench-reader",
        args=(run, sink, frozen.LIVE_KEYS, random.Random(run.seed),
              stop_read.is_set, reads),
    )
    need = frozen.MIN_SAMPLES_P90 if run.traced else frozen.MIN_SAMPLES_P50
    backlog: list[int] = []
    try:
        while not metered.visible_at:
            if q.exception() is not None or now() - t0 > 60:
                raise RuntimeError(f"stream never committed: {q.exception()}")
            time.sleep(0.02)
        reader.start()
        w0 = metered.visible_at[min(metered.visible_at)] + frozen.LIVE_WARMUP_S
        while True:
            time.sleep(0.05)
            t = now()
            if q.exception() is not None:
                raise RuntimeError(f"stream failed: {q.exception()}")
            if t < w0:
                continue
            with metered.lock:
                seen = {f for fs in metered.files.values() for f in fs}
                offered = sum(v[2] for v in published.values())
                visible = sum(published[f][2] for f in seen if f in published)
                n_batches = sum(1 for v in metered.visible_at.values() if v >= w0)
            backlog.append(offered - visible)
            n_reads = sum(1 for end, _ in list(reads) if end >= w0)
            if t - t0 >= frozen.LIVE_MAX_S or (
                t >= w0 + run.seconds and n_batches >= need and n_reads >= need
            ):
                w1 = t
                break
    finally:
        stop_gen.set()
        gen.join(30)
        if not gen.is_alive():
            q.processAllAvailable()
        stop_read.set()
        if reader.ident is not None:
            reader.join(60)
        q.stop()
    if gen.is_alive() or reader.is_alive():
        raise RuntimeError("generator or reader did not stop")
    _wait_progress(cap, max(metered.visible_at))
    spark.streams.removeListener(cap)

    # Freshness and lateness per record: the records of a chunk share
    # its due time, publish time and visibility. Only chunks due inside
    # the window count.
    visible_at = {}
    for b, files in metered.files.items():
        for f in files:
            visible_at[f] = metered.visible_at[b]
    fresh, late = [], []
    for name, (due, pub, n) in published.items():
        if name not in visible_at:
            run.fail(f"{name} published but never visible")
        elif w0 <= due < w1:
            fresh += [visible_at[name] - due] * n
            late += [pub - due] * n
    in_window = [dt for end, dt in reads if w0 <= end < w1]
    batches = [b for b, v in metered.visible_at.items() if w0 <= v < w1]
    offered = sum(n for due, _, n in published.values() if w0 <= due < w1)

    _stream_layers(run, cap, q, metered, in_window, batches)
    run.tracer.enabled = False
    run.e2e.update(
        cold_s=metered.visible_at[min(metered.visible_at)] - t0,
        headline_s=percentile(fresh, 0.5),
        read_p50_s=percentile(in_window, 0.5),
    )
    run.detail.update(
        freshness_p50_s=percentile(fresh, 0.5),
        freshness_p99_s=percentile(fresh, 0.99),
        events_offered=offered, offered_rate=offered / (w1 - w0),
        window_s=w1 - w0, reads=len(in_window),
        backlog_max_events=max(backlog),
    )
    run.detail["late_p99_s"] = percentile(late, 0.99)
    if len(in_window) >= frozen.MIN_SAMPLES_P90:
        run.detail["read_p90_s"] = percentile(in_window, 0.9)
    _check_stream(run, pipe, sink, in_dir, malformed[0])
