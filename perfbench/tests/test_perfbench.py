"""Tests of the benchmark itself: seeded inputs, the percentile rule, the
refusal to run without the engine, and a smoke run of every workload.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import datagen  # noqa: E402
from stats import percentile  # noqa: E402


def _chunks(seed: int) -> bytes:
    log = datagen.cdc_log(seed, n_events=3000, n_keys=1500, n_malformed=8)
    return "\n".join(
        line for lo in range(0, 3000, 500)
        for line in datagen.envelope_lines(log, lo, lo + 500)
    ).encode()


def _tables(tmp_path, seed: int) -> dict[str, str]:
    out = tmp_path / f"seed{seed}"
    datagen.write_tables(str(out), seed, 0.001)
    return {
        f: hashlib.sha256((out / f).read_bytes()).hexdigest()
        for f in sorted(os.listdir(out))
    }


def test_same_seed_same_chunks_other_seed_other_chunks():
    assert _chunks(1) == _chunks(1)
    assert _chunks(1) != _chunks(2)


def test_same_seed_same_tables_other_seed_other_tables(tmp_path):
    a, b, c = _tables(tmp_path, 5), _tables(tmp_path, 5), _tables(tmp_path, 6)
    assert len(a) == 10
    assert a == b
    assert all(a[f] != c[f] for f in a if f not in ("region.parquet", "nation.parquet"))


def test_change_log_shape():
    log = datagen.cdc_log(3, n_events=20_000, n_keys=10_000, n_malformed=8)
    ops = {o: float((log.op == o).mean()) for o in "cdu"}
    assert ops["c"] == pytest.approx(0.2, abs=0.02)
    assert ops["d"] == pytest.approx(0.2, abs=0.02)
    assert len(log.malformed) == 8
    assert (log.ts_ms[1:] > log.ts_ms[:-1]).all()
    lines = datagen.envelope_lines(log, 0, 20_000)
    tombstones = sum(1 for x in lines if json.loads(x)["value"] is None)
    deletes = sum(1 for i, o in enumerate(log.op) if o == "d" and i not in log.malformed)
    assert tombstones == deletes


def test_percentile_needs_ten_samples_beyond():
    assert percentile(range(1, 21), 0.5) == 10
    with pytest.raises(ValueError):
        percentile(range(1, 20), 0.5)
    assert percentile(range(1, 101), 0.9) == 90
    with pytest.raises(ValueError):
        percentile(range(1, 100), 0.9)
    assert percentile(range(1, 1001), 0.99) == 990
    with pytest.raises(ValueError):
        percentile(range(1, 1000), 0.99)


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "batch_headline",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""


@pytest.mark.parametrize("workload,trace", [
    ("batch_headline", 0),
    ("cdc_replay_drain", 0),
    ("cdc_live_serving", 0),
    ("cdc_replay_drain", 1),
])
def test_smoke(workload, trace, tmp_path):
    """Each workload at sf0.001 and one second of measuring, started from
    another directory: it exits 0, its outputs check out and it prints
    every metric of its mode."""
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    p = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--sf", "0.001"],
        cwd=tmp_path, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True, p.stdout.strip().splitlines()[-2]
    assert result["attempted"] >= 1
    want = spec["per_layer"] if trace else spec["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in want}
    if not trace:
        assert all(m["value"] > 0 for m in result["metrics"].values())
