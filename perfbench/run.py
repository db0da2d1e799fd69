#!/usr/bin/env python3
"""Benchmark of the CDC engine: one workload per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see workloads.py for what each metric measures on each):

* ``batch_headline``: 16 of the 32 frozen headline lanes over seeded
  catalog tables, a cold pass and then steady passes in a closed loop,
  each lane materialised with the noop sink.
* ``cdc_replay_drain``: a staged backlog of Debezium PostgreSQL envelopes
  (wide key space, every chunk delivered twice) drained ``availableNow``
  one chunk per micro-batch through ``ConnectorPipeline`` into
  ``DeltaUpsertSink``.
* ``cdc_live_serving``: an open-loop generator publishing envelopes over
  1,500 hot keys at a fixed rate into the same pipeline with the default
  trigger, beside a closed-loop reader of ``DeltaUpsertSink.read_live``.
  BENCHMARK.json leaves it out: its reads race the sink's compaction and
  fail, and three workloads do not fit the runs' time limit.

The engine runs on ``local[<cores>]`` in this process. Every input is made
from ``--seed``; every output is checked: headline lanes against their
DuckDB oracles, the streams' final state and quarantine lane against
DuckDB over the staged envelopes. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}`` holding the end-to-end
metrics of BENCHMARK.json, or its per-layer metrics with ``--trace 1``.
The line before it holds the workload's other figures with their units.
A traced run writes its spans to ``.perfbench_work/traces/``. Everything
a run writes stays under ``.perfbench_work/`` in the repository root.
"""

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
from statistics import median  # noqa: E402

from tracing import (  # noqa: E402
    Tracer, event_log_confs, patch_load_table, peak_rss_mb, read_event_log,
)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Figures of the detail line that have a unit, by name.
FIGURE_UNITS = {
    "batch_cold_s": "s", "batch_suite_s": "s", "lane_p50_s": "s",
    "catalog_read_p50_s": "s", "drain_events_per_s": "events/s",
    "microbatch_p50_s": "s", "microbatch_p90_s": "s",
    "freshness_p50_s": "s", "freshness_p99_s": "s",
    "read_p50_s": "s", "read_p90_s": "s", "offered_rate": "events/s",
    "backlog_max_events": "events", "late_p99_s": "s", "peak_rss_mb": "MB",
    "ops_failed_frac": "ratio", "setup_s": "s", "wall_s": "s",
}

WORKLOADS = ("batch_headline", "cdc_replay_drain", "cdc_live_serving")
SETUPS = 3


class Run:
    """State of one benchmark run, shared by the workload's threads."""

    def __init__(self, args, work: str) -> None:
        self.seed = args.seed
        self.seconds = args.seconds
        self.traced = bool(args.trace)
        self.sf = args.sf
        self.work = work
        self.event_log_dir = os.path.join(work, "eventlog")
        self.event_group = None
        self.tracer = Tracer(False, f"{args.workload}-{args.seed}-{os.getpid()}")
        self.spark = None
        self.attempted = 0
        self.failures: list[str] = []
        self.wrong_outputs = 0
        self.count_lock = threading.Lock()
        self.e2e: dict = {}
        self.layers: dict = {}
        self.detail: dict = {}

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def fail(self, why: str, wrong_output: bool = True) -> None:
        """Count a failed operation. ``wrong_output`` is False for an
        operation that raised without producing an output, such as a
        read that raced a compaction; the run's outputs stay correct."""
        with self.count_lock:
            self.failures.append(why)
            self.wrong_outputs += wrong_output
        print(f"# FAILED {why}", file=sys.stderr)


def _environment(run: Run) -> None:
    """Pin the engine to this machine's cores, keep every file it writes
    under the run's work dir, and put the repository on the Python
    workers' path so the run does not depend on the working directory."""
    tmp = run.path("tmp")
    os.makedirs(tmp)
    os.makedirs(run.event_log_dir)
    for k in ("SPARK_SHUFFLE_PARTITIONS", "SPARK_GRAFT_UI", "SPARK_GRAFT_XSS",
              "SPARK_DRIVER_MEM"):
        os.environ.pop(k, None)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = run.path("spark-local")
    os.environ["TMPDIR"] = tmp
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    confs = [
        "spark.ui.showConsoleProgress=false",
        f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        f"spark.sql.warehouse.dir={run.path('warehouse')}",
    ]
    if run.traced:
        confs += event_log_confs(run.event_log_dir)
    os.environ["SPARK_GRAFT_CONFS"] = ";".join(confs)


def _setup():
    """Import the engine, register every query, start the session and
    warm the JVM: what a user pays before the first query."""
    from cdc_debezium_spark import registry
    from cdc_debezium_spark.session import get_spark

    registry.load_all()
    spark = get_spark(app_name="perfbench")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    return spark


def _restart(spark):
    """Stop the session and drop the engine's modules, so the next
    ``_setup`` imports and registers everything again. The JVM stays."""
    spark.stop()
    for name in [m for m in sys.modules if m.split(".")[0] == "cdc_debezium_spark"]:
        del sys.modules[name]


def _stop_jvm() -> None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        proc.wait(60)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None,
                    help="scale of batch_headline's tables (the tests' smoke run)")
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "cdc_debezium_spark")):
        print(f"no engine package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    run = Run(args, work)
    try:
        _environment(run)
        setups = []
        t0 = T_PROCESS
        for i in range(SETUPS):
            if i:
                t0 = time.perf_counter()
                _restart(run.spark)
            run.spark = _setup()
            setups.append(time.perf_counter() - t0)
        if run.traced:
            patch_load_table(run.tracer)

        import workloads

        t_work = time.perf_counter()
        getattr(workloads, args.workload)(run)
        run.detail["workload_s"] = time.perf_counter() - t_work
        run.e2e["setup_s"] = run.detail["setup_s"] = median(setups)
        run.detail["peak_rss_mb"] = peak_rss_mb()
        app_id = run.spark.sparkContext.applicationId
        run.spark.stop()
        if run.traced and run.event_group is not None:
            for k, v in read_event_log(
                run.event_log_dir, app_id, run.event_group
            ).items():
                run.layers["spark.exec." + k] = v
    finally:
        t_stop = time.perf_counter()
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    run.detail["teardown_s"] = time.perf_counter() - t_stop

    failed = len(run.failures)
    attempted = max(run.attempted, 1)
    run.detail["ops_failed_frac"] = failed / attempted
    if run.traced:
        run.tracer.write(os.path.join(
            base, "traces", f"{args.workload}-seed{args.seed}.jsonl"))
        run.layers["bench.ops_failed_frac"] = failed / attempted
        appended = run.layers.get("streaming.state.rows_appended", 0)
        if appended:
            run.layers["streaming.state.useful_ratio"] = (
                run.detail["rows_live"] / appended
            )

    run.detail.update(setup_samples_s=setups, failures=run.failures[:20],
                      wall_s=time.perf_counter() - T_PROCESS)
    figures = {
        k: {"value": run.detail.pop(k), "unit": u}
        for k, u in FIGURE_UNITS.items() if k in run.detail
    }
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "figures": figures, **run.detail}))
    names = spec["per_layer"] if run.traced else spec["end_to_end"]
    values = run.layers if run.traced else run.e2e
    print(json.dumps({
        "correct": run.wrong_outputs == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in names
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
