"""Seeded inputs for the benchmark.

Everything the engine reads is made here from ``--seed`` with NumPy and
written with pyarrow, so the engine only ever receives generated files:

* ``write_tables``: the ten catalog tables (TPC-H-like star schema plus
  ``events``, ``documents`` and ``embeddings``) with the column types and
  value distributions of the project's fixtures.
* ``cdc_log``: an ordered Debezium PostgreSQL change log for one table,
  rendered by ``envelope_lines`` into the Kafka-shaped JSON lines the
  streaming workloads stage as chunk files.

The same seed gives byte-identical files; nothing here reads the clock.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_DAY_US = 86_400_000_000
_EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01T00:00:00Z
_EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten catalog tables at scale factor ``sf`` (sf0.01 ≈ 60k
    lineitem rows), one independent NumPy stream per table."""
    ss = np.random.SeedSequence(seed)
    rng = {
        name: np.random.default_rng(s)
        for name, s in zip(
            ["customer", "supplier", "part", "orders", "lineitem", "events",
             "documents", "embeddings"],
            ss.spawn(8),
        )
    }
    n_cust = max(15, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(150, int(1_500_000 * sf))
    n_line = max(600, int(6_000_000 * sf))
    n_ev = max(100, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vecs = max(500, int(20_000 * sf))
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    r = rng["customer"]
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": r.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": r.choice(SEGMENTS, n_cust),
    })

    r = rng["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": r.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": _money(r, -999.99, 9999.99, n_supp),
    })

    r = rng["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": r.choice(names, n_part),
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
        "p_type": r.choice(PART_TYPES, n_part),
        "p_size": r.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
    })

    r = rng["orders"]
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": r.integers(0, n_cust, n_ord).astype("int64"),
        "o_orderstatus": r.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(r, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(_EPOCH_1995_US + r.integers(0, 2405, n_ord) * _DAY_US),
        "o_orderpriority": r.choice(PRIORITIES, n_ord),
    })

    r = rng["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": r.integers(0, n_ord, n_line).astype("int64"),
        "l_partkey": r.integers(0, n_part, n_line).astype("int64"),
        "l_suppkey": r.integers(0, n_supp, n_line).astype("int64"),
        "l_linenumber": r.integers(1, 8, n_line).astype("int32"),
        "l_quantity": r.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": _money(r, 900.0, 105_000.0, n_line),
        "l_discount": r.integers(0, 11, n_line) / 100.0,
        "l_tax": r.integers(0, 9, n_line) / 100.0,
        "l_returnflag": r.choice(["A", "N", "R"], n_line),
        "l_linestatus": r.choice(["F", "O"], n_line),
        "l_shipdate": _ts(_EPOCH_1995_US + r.integers(1, 2500, n_line) * _DAY_US),
    })

    r = rng["events"]
    ts = np.sort(r.integers(0, 30 * _DAY_US, n_ev))
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": _ts(_EPOCH_2024_US + ts),
        "user_id": r.integers(0, n_users, n_ev).astype("int64"),
        "event_type": r.choice(EVENT_TYPES, n_ev),
        "value": np.round(r.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)],
    })

    r = rng["documents"]
    texts: list[str] = []
    for i in range(n_docs):
        if i > 0 and r.random() < 0.05:
            # near-duplicate of an earlier document, as in the fixtures
            texts.append(texts[int(r.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(r.choice(WORDS, int(r.integers(10, 101)))))
    out["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": texts,
        "lang": r.choice(LANGS, n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })

    r = rng["embeddings"]
    vecs = r.standard_normal((n_vecs, 64)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_vecs, dtype="int64"),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": r.integers(0, 10, n_vecs).astype("int32"),
    })
    return out


def write_tables(out_dir: str, seed: int, sf: float) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables(seed, sf).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))


# --- Debezium change log ---------------------------------------------------

TOPIC = "prod.public.orders"
OPS = np.array(["c", "d", "u"])
OP_P = [0.2, 0.2, 0.6]
STATUSES = ["NEW", "PAID", "SHIPPED", "DELIVERED", "RETURNED"]
_TS0_MS = 1_704_067_200_000


@dataclass
class CdcLog:
    """One table's ordered change log: event i has key ``key[i]``, op
    ``op[i]`` and the row image (customer, status, amount).

    ``ts_ms`` (Debezium's top-level connector-processing time) is
    strictly increasing, so it is the per-key total order the sink folds
    by. Events whose index is in ``malformed`` are delivered as payloads
    that are not JSON."""

    key: np.ndarray
    op: np.ndarray
    customer: np.ndarray
    status: np.ndarray
    amount: np.ndarray
    ts_ms: np.ndarray
    malformed: frozenset[int]

    def __len__(self) -> int:
        return len(self.key)


def cdc_log(seed: int, n_events: int, n_keys: int, n_malformed: int) -> CdcLog:
    r = np.random.default_rng(np.random.SeedSequence([seed, 7]))
    bad = r.choice(n_events, size=n_malformed, replace=False) if n_malformed else []
    return CdcLog(
        key=r.integers(0, n_keys, n_events).astype("int64"),
        op=r.choice(OPS, n_events, p=OP_P),
        customer=r.integers(0, 15_000, n_events).astype("int64"),
        status=r.choice(STATUSES, n_events),
        amount=np.round(r.uniform(1.0, 5000.0, n_events), 2),
        ts_ms=_TS0_MS + np.arange(n_events, dtype="int64") * 3,
        malformed=frozenset(int(i) for i in bad),
    )


def _envelope(log: CdcLog, i: int) -> str:
    row = {
        "id": int(log.key[i]),
        "customer_id": int(log.customer[i]),
        "status": str(log.status[i]),
        "amount": float(log.amount[i]),
    }
    op = str(log.op[i])
    ts_ms = int(log.ts_ms[i])
    return json.dumps({
        "before": row if op == "d" else None,
        "after": None if op == "d" else row,
        "source": {
            "db": "prod", "schema": "public", "table": "orders",
            "lsn": 10_000 + i, "ts_ms": ts_ms - 1, "snapshot": "false",
        },
        "op": op,
        "ts_ms": ts_ms,
    }, separators=(",", ":"))


def envelope_lines(log: CdcLog, lo: int, hi: int) -> list[str]:
    """Kafka-shaped JSON lines ``{"topic", "value"}`` for events
    [lo, hi). A delete is followed by its tombstone (null value), as
    Debezium emits with ``tombstones.on.delete=true``; a malformed
    event's value is a truncated payload."""
    lines = []
    for i in range(lo, hi):
        value = "{not json" if i in log.malformed else _envelope(log, i)
        lines.append(json.dumps({"topic": TOPIC, "value": value}))
        if log.op[i] == "d" and i not in log.malformed:
            lines.append(json.dumps({"topic": TOPIC, "value": None}))
    return lines
