"""Query registry: the driver-contract surface.

Every implemented operator from SURVEY.md §2 registers here as
  key -> (spark, sf_dir) -> DataFrame          (QUERIES)
  key -> ANSI SQL string for the DuckDB oracle (ORACLES)

Column names are aliased identically on both sides — the driver's
compare sorts columns by name then value-hashes.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def query(key: str, oracle: str):
    """Register a driver-visible query and its DuckDB oracle."""

    def deco(fn):
        QUERIES[key] = fn
        ORACLES[key] = oracle
        return fn

    return deco


# Keys whose implementation changed after their last driver sample:
# their committed CORRECTNESS rows attest retired code, so they lead
# the sample order until the driver checks them again. A key that is
# not registered in this environment is ignored.
_RESAMPLE_FORCED: set[str] = {
    "udf_stateful_tws_roundtrip",  # registers only where TWS is available
}

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def sampled_rounds(repo: str = _REPO) -> dict[int, set[str]]:
    """Round number -> keys the driver checked, from the committed
    CORRECTNESS_r<N>.json files in `repo` (unreadable files skipped)."""
    rounds: dict[int, set[str]] = {}
    for path in glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")):
        m = re.search(r"_r(\d+)\.json$", path)
        try:
            with open(path) as f:
                data = json.load(f)
        except (OSError, ValueError):
            continue
        if m and isinstance(data, dict):
            rounds[int(m.group(1))] = set(data)
    return rounds


def sample_order(
    keys: Iterable[str], rounds: dict[int, set[str]], forced: set[str]
) -> list[str]:
    """Order `keys` so any prefix the driver samples retires the oldest
    correctness debt: `forced` keys first, then keys in no round, then
    the rest by the round they were last sampled, oldest first. Ties
    break by key name."""
    last = {k: r for r in sorted(rounds) for k in rounds[r]}
    return sorted(
        keys, key=lambda k: (k not in forced, k in last, last.get(k, 0), k)
    )


def load_all() -> None:
    """Import every query module, then put the registry in sample order
    over the committed CORRECTNESS files."""
    from . import queries_ext  # noqa: F401
    from . import queries_cdc  # noqa: F401
    from . import queries_events  # noqa: F401
    from . import queries_relational  # noqa: F401
    from . import queries_scalar  # noqa: F401
    from . import queries_streaming  # noqa: F401
    from . import queries_tpch  # noqa: F401

    order = sample_order(QUERIES, sampled_rounds(), _RESAMPLE_FORCED)
    for d in (QUERIES, ORACLES):
        ordered = {k: d[k] for k in order}
        d.clear()
        d.update(ordered)
