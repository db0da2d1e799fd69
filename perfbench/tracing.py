"""Spans and counts recorded by the benchmark around its calls into each
engine module, plus the two readings taken from outside the process
(Spark's event log and the kernel's peak-RSS counter).

A disabled ``Tracer`` records nothing; the end-to-end metrics come from
runs with it disabled, and a traced run reports the layers.
"""

from __future__ import annotations

import contextlib
import glob
import itertools
import json
import os
import sys
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self, enabled: bool, run_id: str) -> None:
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str):
        """Record ``name`` around the block, with the enclosing span of
        the calling thread as its parent."""
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append({
                    "run": self.run_id, "id": sid, "parent": parent,
                    "name": name, "start": start, "end": end,
                })
                self.counts[name + "_s"] += end - start

    def add(self, name: str, value: float = 1.0) -> None:
        if self.enabled:
            with self._lock:
                self.counts[name] += value

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def patch_load_table(tracer: Tracer) -> None:
    """Wrap ``sources.catalog.load_table`` in every engine module that
    bound it by name, counting calls and time per call."""
    from cdc_debezium_spark.sources import catalog

    original = catalog.load_table

    def load_table(*args, **kwargs):
        tracer.add("sources.catalog.load_table_calls")
        with tracer.span("sources.catalog.load_table"):
            return original(*args, **kwargs)

    for name, mod in list(sys.modules.items()):
        if name.startswith("cdc_debezium_spark") and getattr(
            mod, "load_table", None
        ) is original:
            mod.load_table = load_table


# --- Spark event log ---------------------------------------------------------

EXEC_METRICS = (
    "shuffle_write_bytes", "shuffle_read_bytes", "fetch_wait_s",
    "spill_bytes", "gc_s", "executor_cpu_s", "input_bytes",
)


def event_log_confs(log_dir: str) -> list[str]:
    return [
        "spark.eventLog.enabled=true",
        f"spark.eventLog.dir=file://{log_dir}",
        "spark.eventLog.compress=false",
        "spark.eventLog.rolling.enabled=false",
    ]


def read_event_log(log_dir: str, app_id: str, group_prefix: str | None) -> dict:
    """Sum task metrics from the event log of application ``app_id``,
    over the jobs whose job group starts with ``group_prefix`` (all jobs
    when it is None)."""
    out = {k: 0.0 for k in EXEC_METRICS}
    paths = glob.glob(os.path.join(log_dir, f"*{app_id}*"))
    if not paths:
        return out
    stages: set[int] = set()
    tasks: list[tuple[int, dict]] = []
    with open(paths[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                if group_prefix is None or group.startswith(group_prefix):
                    stages.update(ev.get("Stage IDs", []))
            elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
                tasks.append((ev["Stage ID"], ev["Task Metrics"]))
    for stage, m in tasks:
        if stage not in stages:
            continue
        sw = m.get("Shuffle Write Metrics", {})
        sr = m.get("Shuffle Read Metrics", {})
        out["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
        out["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
            "Local Bytes Read", 0
        )
        out["fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
        out["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
            "Disk Bytes Spilled", 0
        )
        out["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        out["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        out["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
    return out


# --- memory ------------------------------------------------------------------


def _children(pid: int) -> list[int]:
    kids = []
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[1]) == pid:
            kids.append(int(stat.split("/")[2]))
    return kids


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def peak_rss_mb() -> float:
    """Peak RSS of this process plus the Spark JVM it launched, in MiB.
    Python workers forked by the JVM are left out: they share pages with
    their parent, so their sum would count memory twice."""
    me = os.getpid()
    todo, total = [me], _hwm_kb(me)
    while todo:
        for kid in _children(todo.pop()):
            if _comm(kid) == "java":
                total += _hwm_kb(kid)
            todo.append(kid)
    return total / 1024.0
